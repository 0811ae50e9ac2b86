"""Common-Crawl-style pages source (BASELINE.json input_hint).

Schema: ``url:string, warc_ts:timestamp, html:binary, text:string,
lang:string`` plus derived ``doc_id, lat, lon``. Rows derive
deterministically from the driver's ``documents.parquet`` so that

* re-runs are byte-identical per url (the per-row invariant: `text` is
  carried through untouched from the source table), and
* the geotag is PURE integer/float SQL — the DuckDB oracle reproduces
  lat/lon exactly without knowing any S2 math.

Geotag model: ~40% of pages cluster within ±1° of 8 "cities" (web pages
concentrate in population centers — this is what makes hot-cell skew real
at 100 TB), the rest spread quasi-uniformly via multiplicative hashes.
Both branches are integer-mod arithmetic over ``doc_id`` followed by one
float division, giving bit-identical float64 in Spark and DuckDB.

The SQL fragments below are THE single source of truth: the Spark side
evaluates them via ``F.expr`` and oracles embed them verbatim — no dual
implementations to drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# City anchor points (lat, lon): NYC, London, Tokyo, Cape Town, Paris,
# Mexico City, San Francisco, São Paulo. NB every float literal carries an
# ``e0`` exponent: bare ``40.7`` parses as DECIMAL in BOTH Spark SQL and
# DuckDB, and decimal arithmetic semantics differ between them — ``40.7e0``
# is a DOUBLE literal in both.
_CITY_LAT = "CASE doc_id % 8 WHEN 0 THEN 40.7e0 WHEN 1 THEN 51.5e0 WHEN 2 THEN 35.7e0 WHEN 3 THEN -33.9e0 WHEN 4 THEN 48.9e0 WHEN 5 THEN 19.4e0 WHEN 6 THEN 37.8e0 ELSE -23.5e0 END"
_CITY_LON = "CASE doc_id % 8 WHEN 0 THEN -74.0e0 WHEN 1 THEN -0.1e0 WHEN 2 THEN 139.7e0 WHEN 3 THEN 18.4e0 WHEN 4 THEN 2.4e0 WHEN 5 THEN -99.1e0 WHEN 6 THEN -122.4e0 ELSE -46.6e0 END"

# doc_id folded mod 2^30 before the Knuth multipliers: the product then
# stays below 2^62, so the geotag is exact int64 at ANY doc_id — a raw
# doc_id * 2654435761 overflows (ANSI exception in Spark, range error in
# DuckDB) from doc_id ~3.47e9, i.e. exactly at the 10^12-page scale this
# table models. Values are unchanged for doc_id < 2^30 (all test SFs).
_H1 = "((doc_id % 1073741824) * 2654435761 + 40503)"
_H2 = "((doc_id % 1073741824) * 1597334677 + 57559)"

LAT_SQL = (
    f"(CASE WHEN doc_id % 5 < 2 THEN ({_CITY_LAT}) + ({_H1} % 2001) / 1000.0e0 - 1.0e0 "
    f"ELSE ({_H1} % 160001) / 1000.0e0 - 80.0e0 END)"
)
LON_SQL = (
    f"(CASE WHEN doc_id % 5 < 2 THEN ({_CITY_LON}) + ({_H2} % 2001) / 1000.0e0 - 1.0e0 "
    f"ELSE ({_H2} % 360001) / 1000.0e0 - 180.0e0 END)"
)
URL_SQL = "concat('https://example.org/page/', cast(doc_id as string))"


def pages_cte_duckdb() -> str:
    """DuckDB CTE body reconstructing the pages view over `documents`.

    Used by ``__spark_entry__.oracle_sql`` — keep in lockstep with
    :func:`load_pages`. html/warc_ts are omitted (never needed by oracles;
    oracles must also never read wide binary columns)."""
    return (
        "SELECT doc_id, "
        f"concat('https://example.org/page/', CAST(doc_id AS VARCHAR)) AS url, "
        f"text, lang, {LAT_SQL} AS lat, {LON_SQL} AS lon "
        "FROM documents"
    )


def load_pages(spark: SparkSession, sf_dir: str, with_html: bool = False) -> DataFrame:
    """Pages DataFrame over ``{sf_dir}/documents.parquet``.

    ``html`` (a binary rendering of text) is opt-in: it is by far the
    widest column and every query that doesn't need it should let parquet
    column pruning skip it — at 100 TB reading html by accident IS the
    bottleneck.
    """
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = [
        F.col("doc_id"),
        F.expr(URL_SQL).alias("url"),
        F.expr("timestampadd(SECOND, cast(doc_id % 86400 as int), TIMESTAMP'2024-01-01 00:00:00')").alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        F.expr(LAT_SQL).alias("lat"),
        F.expr(LON_SQL).alias("lon"),
    ]
    if with_html:
        cols.insert(3, F.encode(F.col("text"), "utf-8").alias("html"))
    return df.select(*cols)


def with_cell_id(pages: DataFrame, level: int = 30) -> DataFrame:
    """Add ``cell_id`` (leaf by default), ``token`` and the order-preserving
    ``cell_id_sortable`` used for range partitioning / range joins.

    The encode here is DELIBERATELY the Arrow UDF kernel arm, not the
    (1.4x faster, bit-identical) native Catalyst arm
    (functions/native_encode): Catalyst's alias substitution turns any
    INNER equi-join keyed on a native-cell derivation into a
    multiplicatively expanded plan (the inferred isnotnull(key) filter
    is rewritten through the 15-level encode stack — measured 29 MB of
    plan and a planner OOM at spark-submit's default driver memory,
    CLAUDE.md trap), and the containment joins downstream of this
    function are exactly that shape. The opaque PythonUDF node is
    substitution-safe. Pipelines WITHOUT an inner join on cell
    derivations (the left-join throughput job, cc_pipeline's fused
    scan, streaming per-cell aggregates) use the native arm directly.
    """
    from s2cell_spark import functions as S2F

    out = pages.withColumn(
        "cell_id", S2F.lat_lon_to_cell_id(F.col("lat"), F.col("lon"), level)
    )
    return out.withColumn("token", S2F.cell_id_to_token(F.col("cell_id"))).withColumn(
        "cell_id_sortable", S2F.cell_id_sortable(F.col("cell_id"))
    )


# Decimal "lat, lon" pair anywhere in the text; both captures parse as
# DOUBLE when matched. Java regex here, RE2 in the DuckDB oracle — the
# pattern uses only the shared subset (classes, bounded repeats, groups).
GEOTAG_TEXT_RE = r"([-+]?\d{1,3}\.\d+)\s*,\s*([-+]?\d{1,3}\.\d+)"


def geotag_from_text(
    pages: DataFrame,
    text_col: str = "text",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Geotag EXTRACTION (north star: geotag "from page text/metadata"):
    pull the first decimal ``lat, lon`` coordinate pair out of the page
    text natively (regexp_extract — codegen'd, no Python), bounds-check
    it (|lat| <= 90, |lon| <= 180), and fall back to the deterministic
    hash geotag columns when the text carries no usable pair.

    Appends ``geo_src`` ('text' | 'hash'), ``geo_lat``, ``geo_lon``.
    Map-only: at 100 TB this fuses into whatever scan already runs. The
    cast sits inside a CASE guard (empty no-match captures would throw
    under ANSI); matched captures always parse, and string->double
    parsing is correctly rounded, so the extracted values are
    bit-identical across engines.
    """
    m1 = F.regexp_extract(F.col(text_col), GEOTAG_TEXT_RE, 1)
    m2 = F.regexp_extract(F.col(text_col), GEOTAG_TEXT_RE, 2)
    la = F.when(m1 != "", m1.cast("double"))
    lo = F.when(m2 != "", m2.cast("double"))
    ok = (
        la.isNotNull()
        & lo.isNotNull()
        & (F.abs(la) <= 90.0)
        & (F.abs(lo) <= 180.0)
    )
    return (
        pages.withColumn("geo_src", F.when(ok, "text").otherwise("hash"))
        .withColumn("geo_lat", F.when(ok, la).otherwise(F.col(lat_col)))
        .withColumn("geo_lon", F.when(ok, lo).otherwise(F.col(lon_col)))
    )


def write_pages_partitioned(
    pages: DataFrame, path: str, num_partitions: int = 32
) -> None:
    """Range-partition on the sortable cell ID and write parquet.

    Hilbert locality (SURVEY.md §1.1) means this clusters geographically:
    each file holds one contiguous ``cell_id_sortable`` range, and
    ``sortWithinPartitions`` gives deterministic output and tight
    row-group min/max stats on that column. Those stats prune only for a
    scan predicate on ``cell_id_sortable``; the containment joins reach
    pages through ``parent(cell_id, L)`` and emit no such predicate, so
    today every file is still read.
    """
    (
        pages.repartitionByRange(num_partitions, "cell_id_sortable")
        .sortWithinPartitions("cell_id_sortable", "url")
        .write.mode("overwrite")
        .parquet(path)
    )
