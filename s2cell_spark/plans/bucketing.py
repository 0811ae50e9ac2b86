"""Bucketed co-located joins — shuffle-free repeated joins at 100 TB.

The size-gated broadcast (plans.joins) covers small dims; when BOTH join
sides are huge (events x pages on user_id, pages x pages self-joins on
cell prefix), every query pays a full shuffle of both tables — at 10^12
rows that shuffle IS the query cost. Bucketing amortizes it: write each
table ONCE bucketed (hash-partitioned into files) on the join key, and
every subsequent join on that key plans as a zero-Exchange sort-merge
join — Spark trusts the on-disk bucket layout instead of re-shuffling
(plan-asserted in tests/test_plans.py::test_bucketed_join_has_no_shuffle).

Guidance at scale:

* bucket count: size buckets to ~128-512 MB of data each at the target
  table size; both tables must use the SAME count (or integer multiples
  with bucket coalescing enabled) for the exchange to be elided;
* ``sortBy`` the bucket key (plus ``cell_id_sortable`` for range pruning)
  so the merge side skips the per-task sort;
* bucketed tables require ``saveAsTable`` (metastore-tracked layout);
  plain ``.parquet()`` writes cannot record bucket metadata — this is a
  Spark constraint, not a catalog dependency (works with the default
  in-session catalog; with Iceberg use its partition transforms instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Write `df` as a bucketed (and optionally sorted) managed table.

    The pre-write ``repartition`` onto the bucket column gives exactly ONE
    file per bucket — one-writer-per-bucket avoids the small-files
    explosion of num_tasks x num_buckets outputs, and is the prerequisite
    for bucket-sorted scans if the legacy
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` flag is on
    (off by default since 3.0, SPARK-28632; the Exchange elision below
    never depended on it)."""
    writer = (
        df.repartition(num_buckets, bucket_col)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, bucket_col)
    )
    writer = writer.sortBy(*(sort_cols or (bucket_col,)))
    writer.saveAsTable(table)


def drop_table_and_orphan(spark: SparkSession, table: str) -> None:
    """DROP the managed table AND clear an orphaned warehouse dir left by
    a previous session (registered only in that session's in-memory
    catalog) — without this, saveAsTable(overwrite) fails with
    LOCATION_ALREADY_EXISTS across sessions."""
    import shutil
    from pathlib import Path
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    orphan = Path(wh) / table.split(".")[-1].lower()
    if orphan.exists():
        shutil.rmtree(orphan, ignore_errors=True)
