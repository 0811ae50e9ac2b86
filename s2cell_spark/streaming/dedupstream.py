"""Incremental near-dup clustering over a document STREAM (round-3
verdict item 6: the streaming dedup -> components bridge).

``streaming_first_seen`` (ingest.py) dedups EXACT duplicates online;
near-dup CLUSTERS were batch-only because transitive closure is not a
per-key stateful operator — a new doc can merge two existing clusters,
which `applyInPandasWithState` (state partitioned by key) cannot express.
The standard production shape is a ``foreachBatch`` refresh, built here
from three persisted state tables under ``state_dir``:

* ``banded/batch=N``  — (doc, band, bucket) MinHash-LSH banding rows
  (dedup.minhash_banded) for every doc seen; candidates for a NEW doc are
  ONE equi-join of its banding rows against this table — per-trigger cost
  is O(new x matches), never a corpus recompute;
* ``wsets/batch=N``   — (doc, ws) capped shingle sets, read back only for
  the exact-Jaccard verification of candidate pairs touching a new doc;
* ``stars/``          — the CURRENT contracted edge set (member -> root
  star edges). Connectivity-equivalent to all verified pairs ever seen,
  but |docs-in-clusters| rows instead of |pairs| — re-running the
  large-star/small-star rounds (operators.components) on
  ``stars UNION new_pairs`` yields exactly the labels a full batch run
  over all pairs would (star edges preserve the partition into
  components; closure of a union depends only on each side's partition).

EXACTLY-ONCE: per-batch inputs land in ``batch=N`` subdirs written with
overwrite (replay-idempotent); ``stars``/``labels`` are full snapshots;
``_last_batch.json`` gates replays so a restarted query skips batches it
already folded in. Old-state reads filter ``batch != N`` so a crashed
half-written attempt of the SAME batch is invisible.

Equivalence (streaming == batch ``minhash_near_dup_pairs`` ->
``connected_components`` over all docs so far) holds EXACTLY, not
approximately: per-doc banding rows depend only on the doc's own text
(md5-based hashes, fixed Carter-Wegman params — no RNG, no cross-doc
state), so the incremental candidate set {pairs sharing a bucket, found
when the later doc arrives} equals the batch candidate set, and the
verification threshold is the same integer basis-point Jaccard. Pinned by
tests/test_streaming_dedup.py on a two-batch fixture whose second batch
MERGES two first-batch clusters.

At 10^12 docs: the banded table is 16 rows/doc of ~40 B — big but
append-only and equi-joined on (band, bucket) with the new side tiny, a
broadcast per trigger; wsets reads are candidate-pair-pruned; the star
rounds run over |cluster members| + |new pairs| rows, metadata scale.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2cell_spark.functions.udfs import arrow_frame
from s2cell_spark.operators.components import connected_components
from s2cell_spark.operators.dedup import (
    minhash_banded,
    shingled_docs,
    verify_candidate_pairs,
)

_BANDED_SCHEMA = "doc long, band int, bucket string"
_WSETS_SCHEMA = "doc long, ws array<string>"
_STARS_SCHEMA = "u long, v long"


def _read_state(spark, root: str, sub: str, schema: str, exclude_batch: int):
    path = os.path.join(root, sub)
    if not os.path.isdir(path):
        return arrow_frame(spark, [], schema)
    df = spark.read.parquet(path)
    # partition discovery surfaces the batch=N dir as a column; a crashed
    # half-write of THIS batch id must be invisible to the old-state read
    return df.filter(F.col("batch") != exclude_batch).drop("batch")


def dup_clusters_refresh(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    threshold_bp: int = 5000,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch of (id_col, text) docs into the cluster state
    and rewrite the ``labels/`` snapshot (doc_id, cluster) — cluster = min
    doc_id of the connected near-dup group, docs in no pair absent (same
    contract as the batch ``dup_clusters`` labels core)."""
    spark = batch_df.sparkSession
    last_path = os.path.join(state_dir, "_last_batch.json")
    if os.path.exists(last_path):
        with open(last_path) as f:
            if batch_id <= json.load(f)["batch_id"]:
                return  # replay of an already-committed batch
    docs = batch_df.select(F.col(id_col).cast("long").alias(id_col), "text")
    # materialize the per-batch derived state BEFORE any state writes —
    # batch_df is only valid inside this call, and the new banding rows
    # are read twice (candidate join + state append)
    new_sets = shingled_docs(docs, id_col).localCheckpoint(eager=True)
    new_banded = minhash_banded(docs, num_perm, bands, id_col).localCheckpoint(
        eager=True
    )

    old_banded = _read_state(spark, state_dir, "banded", _BANDED_SCHEMA, batch_id)
    old_sets = _read_state(spark, state_dir, "wsets", _WSETS_SCHEMA, batch_id)
    stars_path = os.path.join(state_dir, "stars_snap")
    stars = (
        spark.read.parquet(stars_path)
        if os.path.isdir(stars_path)
        else arrow_frame(spark, [], _STARS_SCHEMA)
    )

    # candidates TOUCHING a new doc: new x (old ∪ new) bucket join;
    # old-old pairs are already folded into the star state
    all_banded = old_banded.unionByName(new_banded)
    cand = (
        new_banded.alias("a")
        .join(all_banded.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.doc") != F.col("b.doc"))
        .select(
            F.least("a.doc", "b.doc").alias("doc_a"),
            F.greatest("a.doc", "b.doc").alias("doc_b"),
        )
        .distinct()
    )
    verified = verify_candidate_pairs(
        cand, old_sets.unionByName(new_sets), threshold_bp
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))

    labels = connected_components(
        stars.unionByName(verified), src="u", dst="v"
    )  # returned localCheckpoint(eager) — safe to overwrite its sources below

    new_banded.write.mode("overwrite").parquet(
        os.path.join(state_dir, "banded", f"batch={batch_id}")
    )
    new_sets.write.mode("overwrite").parquet(
        os.path.join(state_dir, "wsets", f"batch={batch_id}")
    )
    labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("u"), F.col("component").alias("v")
    ).write.mode("overwrite").parquet(os.path.join(state_dir, "stars_snap"))
    labels.select(
        F.col("node").alias(id_col), F.col("component").alias("cluster")
    ).write.mode("overwrite").parquet(os.path.join(state_dir, "labels"))
    with open(last_path, "w") as f:
        json.dump({"batch_id": int(batch_id)}, f)


def streaming_dup_clusters(
    pages_stream: DataFrame,
    state_dir: str,
    threshold_bp: int = 5000,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
):
    """writeStream builder: ``.start()`` it (with a checkpointLocation)
    to maintain ``{state_dir}/labels`` as the live near-dup cluster
    snapshot of every doc ingested so far."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        dup_clusters_refresh(
            batch_df, batch_id, state_dir, threshold_bp, num_perm, bands, id_col
        )

    return pages_stream.writeStream.foreachBatch(fold).outputMode("update")
