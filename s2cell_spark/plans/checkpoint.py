"""Checkpointed multi-stage pipelines: per-stage parquet snapshots with a
lineage manifest, resumable after failure (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Each stage writes ``{root}/{stage}/data`` (parquet) plus
``{root}/{stage}/_LINEAGE.json`` recording: stage name, input stage names,
row count, per-partition row counts, schema, wall time, and a plan
fingerprint. A stage is complete iff its manifest exists, row counts
match the footer, AND the fingerprint of the rebuilt (lazy) plan matches
the recorded one — resume re-reads the snapshot instead of recomputing,
while a stage whose logic changed recomputes rather than resuming stale
data.
Stages must be deterministic (the pages geotag/synthesis is a pure
function of url — SURVEY.md §7 'hard parts'), so a resumed run is
byte-identical to an uninterrupted one (tested in t4).

Storage backends: with an Iceberg catalog configured AND the Iceberg
runtime jar on the classpath (``iceberg_available``), stage snapshots go
through ``writeTo(catalog.ns.stage).createOrReplace()`` — giving real
snapshot isolation, metadata-level min/max pruning on
``cell_id_sortable``, and resume-by-snapshot. Otherwise (this container
ships no Iceberg jars) they fall back to parquet + the JSON lineage
manifest. The lineage/resume logic is storage-agnostic and identical in
both modes; the fallback is the path exercised by tests here, the
Iceberg path activates from config alone on a production cluster
(``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`` + jar).
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def plan_fingerprint(df: DataFrame) -> str | None:
    """sha256 of the optimized plan string with its expression IDs
    (``#123``) stripped, so the same build logic hashes the same in a new
    JVM. (The canonicalized plan is no good here: it orders commutative
    AND/OR operands differently from one JVM to the next.) None when the
    backend doesn't expose the plan — callers treat that as 'cannot
    verify' and skip the fingerprint check rather than failing."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return hashlib.sha256(re.sub(r"#\d+", "", plan).encode()).hexdigest()[:16]
    except Exception:
        return None


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True iff `catalog` is configured as a Spark catalog AND the Iceberg
    SparkCatalog class is loadable (the runtime jar is on the classpath).
    Config alone is not enough — a configured-but-jarless session would
    fail at write time, so the probe checks both before routing writes."""
    try:
        if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
            return False
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class CheckpointedPipeline:
    """`catalog`: optional Iceberg catalog name. When provided and
    :func:`iceberg_available`, stage data is written as
    ``{catalog}.{namespace}.{stage}`` tables; otherwise parquet under
    `root`. The JSON lineage manifest lives under `root` either way."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: str | None = None,
        namespace: str = "s2cell_ckpt",
    ):
        self.spark = spark
        self.root = Path(root)
        self.metrics: list[dict] = []
        self.catalog = catalog
        self.namespace = namespace
        self.use_iceberg = catalog is not None and iceberg_available(spark, catalog)
        if self.use_iceberg:  # pragma: no cover - no Iceberg jars in container
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"
            )

    def _table(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def _manifest_path(self, stage: str) -> Path:
        return self.root / stage / "_LINEAGE.json"

    def _data_path(self, stage: str) -> str:
        return str(self.root / stage / "data")

    def is_complete(self, stage: str, fingerprint: str | None = None) -> bool:
        """Snapshot is reusable iff the manifest exists, row counts match
        the footer, AND (when both sides have one) the recorded plan
        fingerprint matches — a stage whose build logic changed recomputes
        instead of silently resuming stale data."""
        mp = self._manifest_path(stage)
        if not mp.exists():
            return False
        try:
            manifest = json.loads(mp.read_text())
            recorded = manifest.get("plan_fingerprint")
            if fingerprint is not None and recorded is not None and fingerprint != recorded:
                return False
            n = self.read(stage).count()
            return n == manifest["row_count"]
        except Exception:
            return False

    def read(self, stage: str) -> DataFrame:
        if self.use_iceberg:  # pragma: no cover - no Iceberg jars in container
            return self.spark.read.table(self._table(stage))
        return self.spark.read.parquet(self._data_path(stage))

    def _write(self, stage: str, df: DataFrame) -> None:
        if self.use_iceberg:  # pragma: no cover - no Iceberg jars in container
            df.writeTo(self._table(stage)).using("iceberg").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self._data_path(stage))

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        inputs: tuple[str, ...] = (),
        sort_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Run (or resume) one stage; returns the snapshot-backed frame.

        The stage's DataFrame is always BUILT (lazy, driver-side only) so
        its plan fingerprint can gate the resume: identical plan ->
        reuse the snapshot, changed plan -> recompute."""
        t0 = time.time()
        df = build()
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        fp = plan_fingerprint(df)
        if self.is_complete(name, fp):
            self.metrics.append({"stage": name, "resumed": True})
            return self.read(name)
        self._write(name, df)
        out = self.read(name)
        per_part = (
            out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        manifest = {
            "stage": name,
            "inputs": list(inputs),
            "plan_fingerprint": fp,
            "row_count": sum(r["rows"] for r in per_part),
            "partitions": {str(r["pid"]): r["rows"] for r in per_part},
            "schema": out.schema.simpleString(),
            "wall_sec": round(time.time() - t0, 3),
            "written_at_epoch": int(t0),
        }
        self._manifest_path(name).parent.mkdir(parents=True, exist_ok=True)
        self._manifest_path(name).write_text(json.dumps(manifest, indent=1))
        self.metrics.append({"stage": name, "resumed": False, **manifest})
        return out
