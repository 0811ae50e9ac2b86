"""Structured-Streaming page ingest (ENGINE stretch, SURVEY §2.2).

Incremental per-cell tile counts over a stream of pages: watermark on
``warc_ts`` bounds late data, tumbling windows aggregate per (window,
level-k cell token). S2 expressions work unchanged in streaming (the
encode is the r5 native Catalyst arm; the Arrow-UDF kernels also run
per micro-batch where needed) — and the groupBy key is the native parent
expr, so state is keyed on (window, cell) with partial aggregation.

At scale: source = Iceberg/Kafka ``readStream``; here tests drive it with
a file/memory source at sf0.001.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from s2cell_spark import functions as S2F
from s2cell_spark.operators.containment import containment_join_equi


def streaming_cell_counts(
    pages_stream: DataFrame,
    level: int = 6,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """windowed (window_start, cell_token, n_pages) stream."""
    from s2cell_spark.functions.native_encode import with_cell_id as _native

    with_cell = _native(pages_stream, level=30)
    parent = S2F.cell_id_to_parent_cell_id(F.col("cell_id"), level)
    return (
        with_cell.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("win"),
            S2F.cell_id_to_token(parent).alias("cell_token"),
        )
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("win.start").alias("window_start"), "cell_token", "n_pages")
    )


def streaming_containment_counts(
    pages_stream: DataFrame,
    coverings: DataFrame,
    level: int,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-REGION page counts over a stream: encode each page's
    cell in-stream, then the batch
    :func:`~s2cell_spark.operators.containment.containment_join_equi` as a
    STREAM-STATIC broadcast equi-join against the normalized covering dim
    (`coverings` = ``containment.normalized_coverings_df(spark, regions,
    level)`` — static, tiny, broadcast into every micro-batch), then
    watermarked tumbling-window counts per (window, region).

    The static side never needs state: Spark re-plans the broadcast per
    micro-batch, so covering updates between restarts are picked up; the
    only streaming state is the windowed aggregate keyed by
    (window, region_id) — bounded by the watermark."""
    # UDF encode here: this is an INNER join keyed on a cell derivation
    # — with the native encode the inferred isnotnull(key) substitutes
    # through the stack and explodes planning (sources/pages.with_cell_id
    # docstring; CLAUDE.md trap)
    with_cell = pages_stream.withColumn(
        "cell_id", S2F.lat_lon_to_cell_id(F.col("lat"), F.col("lon"), 30)
    )
    joined = containment_join_equi(with_cell, coverings.sparkSession, coverings, level)
    return (
        joined.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("region_id"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("win.start").alias("window_start"), "region_id", "n_pages")
    )


_FIRST_SEEN_OUT = StructType(
    [
        StructField("text_md5", StringType()),
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
    ]
)
_FIRST_SEEN_STATE = StructType([StructField("seen", BooleanType())])


def streaming_first_seen(pages_stream: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Streaming exact dedup: emit each distinct ``md5(text)`` ONCE — the
    first micro-batch that carries it wins; later occurrences (same batch
    or any future batch) are suppressed by per-key state.

    Custom stateful operator via ``applyInPandasWithState``: keyed by the
    content hash (state store shuffles/partitions on it — scales out like
    any keyed state), state is a single boolean per hash. Within the
    winning batch the lowest ``doc_id`` is the canonical keeper, matching
    the batch ``exact_dup_groups`` keeper rule.

    At 10^12 pages the state store holds one tiny record per DISTINCT
    document; bound it with a processing-time timeout (state TTL) if the
    stream is unbounded and re-crawls are rare — dropping a key only risks
    re-emitting a duplicate, never losing a document.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def first_seen(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        state.update((True,))
        keeper = rows.sort_values(id_col).iloc[:1]
        yield pd.DataFrame(
            {
                "text_md5": [key[0]],
                "doc_id": keeper[id_col].to_numpy(),
                "url": keeper["url"].to_numpy(),
            }
        )

    keyed = pages_stream.select(
        F.md5(F.col("text")).alias("text_md5"), F.col(id_col), F.col("url")
    )
    return keyed.groupBy("text_md5").applyInPandasWithState(
        first_seen,
        outputStructType=_FIRST_SEEN_OUT,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_radius_alerts(pages_stream: DataFrame, spark, circles) -> DataFrame:
    """Geofence alerts: every streamed page within each query circle's
    radius — the streaming twin of ``operators.radius.within_radius_join``
    (identical code path: stream-static broadcast of the cap-covering dim
    per micro-batch + native fixed-point haversine verify; the encode UDF
    runs per micro-batch unchanged). Stateless — no watermark needed; at
    scale the output is an append-only alert stream keyed (circle_id,
    url). streaming==batch equivalence is tested."""
    from s2cell_spark.operators.radius import within_radius_join

    # UDF encode: within_radius_join is an inner containment join on a
    # cell derivation (native-cell plan-explosion trap, CLAUDE.md)
    with_cell = pages_stream.withColumn(
        "cell_id", S2F.lat_lon_to_cell_id(F.col("lat"), F.col("lon"), 30)
    )
    joined = within_radius_join(with_cell, spark, circles)
    return joined.select("circle_id", "url", "dist_fp")
