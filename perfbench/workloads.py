"""The four workloads. Each is a closed loop driven from one client
thread: the next operation starts when the previous one returned.

A workload provides

* ``generate()`` — seeded inputs and expected answers (untimed, cached);
* ``build_inputs(spark)`` — inputs that must be written by the library
  itself (untimed, cached); most workloads have none;
* ``prepare(spark)`` — per-session state, part of set-up time;
* ``op(spark)`` — one timed operation, returning its outputs;
* ``check(out)`` — an error message, or None when the outputs match the
  independent answers;
* ``items_per_op()`` — items of work (pages, queries, docs) in one op;
* ``after_loop(spark)`` — a checked follow-up run once after the loop;
* ``extra_report(walls)`` — the workload's own named end-to-end metrics;
* ``probe(spark)`` — traced runs only: extra layer measurements;
* ``layer_metrics(counters, n_ops)`` — traced runs only: per-layer
  numbers, split into the BENCHMARK.json set and the workload's own.

Spans (``self.tr.span(layer)``) wrap every call into a library module;
they are no-ops unless the run is traced.
"""

from __future__ import annotations

import json
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa

import gen
import oracle
from stats import highest_supported, percentile


def _digest_cols():
    from pyspark.sql import functions as F

    return (
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("s"),
        F.expr("bit_xor(doc_id)").alias("x"),
    )


def _digest_row(row) -> tuple[int, int, int]:
    return (int(row["n"]), int(row["s"] or 0), int(row["x"] or 0))


def _box_cond(boxes, region_col: str | None):
    """Exact inclusive rectangle test; with `region_col`, only against
    the page's own region."""
    from pyspark.sql import functions as F

    cond = F.lit(False)
    for rid, a, b, c, d in boxes:
        inside = (F.col("lat") >= a) & (F.col("lat") <= b) & (F.col("lon") >= c) & (F.col("lon") <= d)
        if region_col is not None:
            inside = (F.col(region_col) == rid) & inside
        cond = cond | inside
    return cond


def _median_wall(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def _task_skew(counters: dict) -> float:
    ts = counters.get("task_s") or []
    if not ts:
        return 0.0
    p50 = statistics.median(ts)
    return max(ts) / p50 if p50 > 0 else 0.0


def _box_coverings(tr, boxes) -> tuple[dict, dict[str, float]]:
    """Driver-side coverings of the boxes, with their per-box time and size."""
    from s2cell_spark.operators import covering

    t = time.perf_counter()
    with tr.span("operators.covering"):
        regions = {
            rid: covering.latlng_rect_covering(a, b, c, d, max_level=10, min_emit_level=6)
            for rid, a, b, c, d in boxes
        }
    return regions, {
        "operators.covering.cover_s": (time.perf_counter() - t) / len(boxes),
        "operators.covering.cells_per_query": float(np.mean([len(v) for v in regions.values()])),
    }


def _covering_table(tr, spark, regions) -> tuple[object, float]:
    """The cached single-level (level 10) covering table; its build time."""
    from s2cell_spark.operators import containment

    t = time.perf_counter()
    with tr.span("operators.containment"):
        cov = containment.normalized_coverings_df(spark, regions, 10).cache()
        cov.count()
    return cov, time.perf_counter() - t


# Prefix plans shared by the page workloads' traced runs, in order. Each
# ends in a full-column checksum so no column is pruned; a layer's time is
# its prefix's median minus its base prefix's median.
PROBE_LAYERS = {
    # layer: (metric suffix, base prefix)
    "sources.pages": ("scan_s", None),
    "functions.native_encode": ("encode_s", "sources.pages"),
    "operators.containment": ("join_s", "functions.native_encode"),
    "functions.exprs": ("rollup_s", "operators.containment"),
    "functions.udfs": ("encode_s", "sources.pages"),
    "sources.pages.range_partition": ("s", "functions.udfs"),
}
PROBE_REPS = 3


def _tag_rollup_plans(tr, pages, cov, boxes):
    """scan -> native encode -> LEFT containment join -> exact-rect flag
    -> level-8 rollup, as (scanned, encoded, tagged, result) frames."""
    from pyspark.sql import functions as F

    from s2cell_spark.functions import exprs, native_encode

    with tr.span("functions.native_encode"):
        enc = native_encode.with_cell_id(pages, level=30)
    with tr.span("operators.containment"):
        # the unchecked parent is bit-identical on valid cells (every
        # level-30 encode is) and keeps the fused stage JIT-sized
        key = exprs.cell_id_to_parent_cell_id_unchecked(F.col("cell_id"), 10)
        tagged = enc.join(F.broadcast(cov), on=key == F.col("cov_cell"), how="left").drop("cov_cell")
    with tr.span("functions.exprs"):
        flag = F.when(F.col("region_id").isNotNull() & _box_cond(boxes, "region_id"), 1).otherwise(0)
        result = (
            tagged.groupBy(exprs.cell_id_to_parent_cell_id_unchecked(F.col("cell_id"), 8).alias("cell"))
            .agg(F.count("*").alias("n_pages"), F.sum(flag).alias("n_matched"))
            .agg(F.sum("n_pages").alias("p"), F.sum("n_matched").alias("m"))
        )
    return pages, enc, tagged, result


def page_layer_probes(tr, spark, path: str, cov, boxes, partitions: int) -> dict:
    """Run every PROBE_LAYERS prefix over the lat/lon columns of the pages
    at `path` (PROBE_REPS times each, spans ``probe.<layer>``); returns the
    prefix medians plus the full tag-rollup query execution."""
    from pyspark.sql import functions as F

    from s2cell_spark.sources import pages as P

    def scan():
        with tr.span("sources.pages"):
            return spark.read.parquet(path).select("lat", "lon")

    def udf_encoded():
        with tr.span("functions.udfs"):
            return P.with_cell_id(scan())

    def udf_check(df):
        return df.agg(F.expr("bit_xor(cell_id)"), F.expr("bit_xor(xxhash64(token))"))

    def tag(i):
        return _tag_rollup_plans(tr, scan(), cov, boxes)[i]

    builds = {
        "sources.pages": lambda: scan().agg(F.sum("lat"), F.sum("lon")),
        "functions.native_encode": lambda: tag(1).agg(F.expr("bit_xor(cell_id)")),
        "operators.containment": lambda: tag(2).agg(
            F.expr("bit_xor(cell_id)"), F.sum(F.coalesce(F.col("region_id"), F.lit(0)))),
        "functions.exprs": lambda: tag(3),
        "functions.udfs": lambda: udf_check(udf_encoded()),
        "sources.pages.range_partition": lambda: udf_check(
            udf_encoded().repartitionByRange(partitions, "cell_id_sortable")),
    }
    prefix_s = {}
    for layer, build in builds.items():
        def run(layer=layer, build=build):
            with tr.span(f"probe.{layer}"):
                build().collect()
        prefix_s[layer] = _median_wall(run, PROBE_REPS)
    return {"prefix_s": prefix_s, "qe": tag(3)._jdf.queryExecution()}


def page_layer_metrics(probes: dict, counters: dict, n_pages: int, n_ops: int) -> tuple[dict, dict]:
    """(metrics, extra): per-layer times, CPU, GC and task skew from the
    probe prefixes; plan shape of the full tag-rollup query."""
    prefix_s = probes["prefix_s"]
    out, extra = {}, {}
    for layer, (suffix, base) in PROBE_LAYERS.items():
        c = counters.get(f"probe.{layer}", {})
        b = counters.get(f"probe.{base}", {}) if base else {}
        name = f"{layer}.{suffix}" if suffix != "s" else f"{layer}_s"
        out[name] = prefix_s[layer] - (prefix_s[base] if base else 0.0)
        out[f"{layer}.cpu_s"] = (c.get("cpu_s", 0.0) - b.get("cpu_s", 0.0)) / PROBE_REPS
        out[f"{layer}.task_s_max_over_p50"] = _task_skew(c)
        extra[f"{layer}.gc_s"] = ((c.get("gc_s", 0.0) - b.get("gc_s", 0.0)) / PROBE_REPS, "s")
    # rows the traced operations read from storage, per page per operation
    # (Spark's "Bytes Read" misses the vectorized parquet reader's I/O, so
    # rows stand in for bytes)
    read = sum(c.get("input_records", 0) for layer, c in counters.items()
               if not layer.startswith(("probe.", "_")))
    out["sources.pages.rows_read_per_page"] = read / (n_ops * n_pages)
    rp = counters.get("probe.sources.pages.range_partition", {})
    out["sources.pages.shuffle_bytes_per_page"] = rp.get("shuffle_write_bytes", 0) / PROBE_REPS / n_pages
    plan = probes["qe"].executedPlan().toString()
    out["plan.codegen_stages"] = float(len({tok.split(")")[0] for tok in plan.split("*(")[1:]}))
    out["plan.bytes"] = float(len(probes["qe"].optimizedPlan().toString()))
    return out, extra


def kernel_points_per_s(seed: int, n: int = 100_000) -> float:
    """The numpy encode kernel alone, on n of the workload's own points."""
    from s2cell_spark import kernels as K

    _, lat, lon = gen.page_coords(seed, n)
    return n / _median_wall(lambda: K.lat_lon_to_cell_id(lat, lon), reps=5)


class Workload:
    name = ""

    def __init__(self, seed: int, cache: gen.InputCache, work: Path, tracer):
        self.seed = seed
        self.cache = cache
        self.work = work
        self.tr = tracer
        self.dir: Path | None = None
        self.layer: dict[str, float] = {}

    @property
    def key(self) -> str:
        return f"{self.name}-s{self.seed}-n{self.size}-v{gen.GEN_VERSION}"

    def generate(self) -> None:
        self.dir = self.cache.get(self.key, self._generate)

    def build_inputs(self, spark) -> None:
        pass

    def items_per_op(self) -> int:
        return self.size

    def extra_report(self, walls: list[float]) -> dict[str, tuple[float, str]]:
        """The workload's own named end-to-end metrics, as name -> (value, unit)."""
        return {}

    def after_loop(self, spark) -> str | None:
        """A checked follow-up to the measured operations, run once; an
        error message or None."""
        return None

    def probe(self, spark) -> None:
        pass

    def layer_metrics(self, counters: dict, n_ops: int) -> tuple[dict, dict]:
        """(metrics named in BENCHMARK.json, other per-layer metrics as
        name -> (value, unit))."""
        return {}, {}


# ---------------------------------------------------------------------------
# tag_rollup
# ---------------------------------------------------------------------------


class TagRollup(Workload):
    """At-rest pages parquet -> scan -> native encode -> LEFT broadcast
    containment join against the seeded boxes' normalized coverings ->
    exact-rectangle flag -> level-8 rollup, folded to (pages, matched)."""

    name = "tag_rollup"
    size = 2_000_000
    files = 8

    def _generate(self, d: Path) -> None:
        _, lat, lon = gen.page_coords(self.seed, self.size)
        t = pa.table({"lat": pa.array(lat, pa.float64()), "lon": pa.array(lon, pa.float64())})
        gen.write_parquet_files(t, d / "pages", self.files)
        boxes = gen.rollup_boxes(self.seed)
        m = sum(int(oracle.in_box(lat, lon, a, b, c, e).sum()) for _, a, b, c, e in boxes)
        (d / "expected.json").write_text(json.dumps({"boxes": boxes, "p": self.size, "m": m}))

    def prepare(self, spark) -> None:
        self.exp = json.loads((self.dir / "expected.json").read_text())
        self.boxes = [tuple(b) for b in self.exp["boxes"]]
        regions, self.layer = _box_coverings(self.tr, self.boxes)
        self.cov, build_s = _covering_table(self.tr, spark, regions)
        self.layer["operators.containment.covering_build_s"] = build_s

    def op(self, spark):
        with self.tr.span("sources.pages"):
            pages = spark.read.parquet(str(self.dir / "pages")).select("lat", "lon")
        df = _tag_rollup_plans(self.tr, pages, self.cov, self.boxes)[3]
        with self.tr.span("action"):
            row = df.collect()[0]
        return int(row["p"]), int(row["m"] or 0)

    def check(self, out) -> str | None:
        p, m = out
        if (p, m) != (self.exp["p"], self.exp["m"]):
            return f"tag_rollup: got (p={p}, m={m}), expected (p={self.exp['p']}, m={self.exp['m']})"
        return None

    def extra_report(self, walls):
        return {"rollup_pages_per_s": (self.size / statistics.median(walls), "pages/s")}

    def probe(self, spark) -> None:
        self.probes = page_layer_probes(self.tr, spark, str(self.dir / "pages"), self.cov, self.boxes, self.files)
        self.kernel_pps = kernel_points_per_s(self.seed)

    def layer_metrics(self, counters, n_ops):
        out, extra = page_layer_metrics(self.probes, counters, self.size, max(1, n_ops))
        out.update(self.layer)
        out["kernels.encode_points_per_s"] = self.kernel_pps
        return out, extra


# ---------------------------------------------------------------------------
# spatial_queries
# ---------------------------------------------------------------------------


class SpatialQueries(Workload):
    """Interactive queries against an encoded, range-partitioned pages
    table: box, polygon, kNN and radius. One operation is a round of one
    query of each kind, in a seeded order."""

    name = "spatial_queries"
    size = 400_000
    rounds = 40
    files = 4

    def _generate(self, d: Path) -> None:
        t = gen.pages_table(self.seed, self.size)
        gen.write_parquet_files(t, d / "raw", self.files)
        ids = t.column("doc_id").to_numpy()
        lat, lon = t.column("lat").to_numpy(), t.column("lon").to_numpy()
        rounds = gen.spatial_rounds(self.seed, self.rounds)
        answers = [[oracle.spatial_answer(q, ids, lat, lon) for q in rnd] for rnd in rounds]
        (d / "expected.json").write_text(json.dumps({"rounds": rounds, "answers": answers}))

    def build_inputs(self, spark) -> None:
        """The encoded table, written by the library's own range-
        partitioned writer (cached with the raw inputs)."""
        from s2cell_spark.sources import pages as P

        enc = self.dir / "encoded"
        if (enc / "_SUCCESS").exists():
            return
        raw = spark.read.parquet(str(self.dir / "raw"))
        P.write_pages_partitioned(P.with_cell_id(raw), str(enc), num_partitions=8)

    def prepare(self, spark) -> None:
        exp = json.loads((self.dir / "expected.json").read_text())
        self.query_rounds, self.answers = exp["rounds"], exp["answers"]
        self.pages = spark.read.parquet(str(self.dir / "encoded")).select("doc_id", "lat", "lon", "cell_id")
        self.next_round = 0
        self.latency: dict[str, list[float]] = {k: [] for k in gen.QUERY_KINDS}
        self.box_stats: list[tuple[float, int, float]] = []   # cover_s, cells, planning_s
        self.candidates = [0, 0]                               # candidates, results
        self.result_rows: list[int] = []

    def _box(self, spark, q):
        from s2cell_spark.operators import covering, containment

        h = q["half"]
        box = [(0, q["lat"] - h, q["lat"] + h, q["lon"] - h, q["lon"] + h)]
        t = time.perf_counter()
        with self.tr.span("operators.covering"):
            cov = covering.latlng_rect_covering(*box[0][1:], max_level=10, min_emit_level=6)
        cover_s = time.perf_counter() - t
        with self.tr.span("operators.containment"):
            cand = containment.containment_join_equi(self.pages, spark, {0: cov}, level=10)
            df = cand.filter(_box_cond(box, None)).agg(*_digest_cols())
            planning_s = 0.0
            if self.tr.enabled:
                t = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                planning_s = time.perf_counter() - t
                self.candidates[0] += cand.count()
            res = _digest_row(df.collect()[0])
        if self.tr.enabled:
            self.box_stats.append((cover_s, len(cov), planning_s))
            self.candidates[1] += res[0]
        return res

    def _radius(self, spark, q):
        from s2cell_spark.operators import radius

        with self.tr.span("operators.radius"):
            df = radius.within_radius_join(self.pages, spark, {0: (q["lat"], q["lon"], q["radius"])})
            return _digest_row(df.agg(*_digest_cols()).collect()[0])

    def _polygon(self, spark, q):
        from s2cell_spark.operators import bulkcover

        with self.tr.span("operators.bulkcover"):
            rings = [[(la, lo) for la, lo in ring] for ring in q["rings"]]
            polys = spark.createDataFrame([(0, rings)], schema=f"region_id long, rings {bulkcover.RINGS_TYPE}")
            df = bulkcover.bulk_pip_join(self.pages, polys, level=10, max_level=10)
            return _digest_row(df.agg(*_digest_cols()).collect()[0])

    def _knn(self, spark, q):
        from s2cell_spark.operators import knn

        with self.tr.span("operators.knn"):
            rows = knn.knn(self.pages, spark, [(0, q["lat"], q["lon"])], k=q["k"], level=6).collect()
            spark.catalog.clearCache()
        return [int(r["doc_id"]) for r in sorted(rows, key=lambda r: r["rank"])]

    def op(self, spark):
        i = self.next_round % len(self.query_rounds)
        self.next_round += 1
        out = []
        for q in self.query_rounds[i]:
            t = time.perf_counter()
            res = getattr(self, f"_{q['kind']}")(spark, q)
            self.latency[q["kind"]].append(time.perf_counter() - t)
            self.result_rows.append(len(res) if q["kind"] == "knn" else res[0])
            out.append(res)
        return i, out

    def check(self, out) -> str | None:
        i, results = out
        for q, got, want in zip(self.query_rounds[i], results, self.answers[i]):
            if list(got) != list(want):
                return f"spatial_queries round {i} {q['kind']}: got {list(got)[:6]}, expected {list(want)[:6]}"
        return None

    def items_per_op(self) -> int:
        return len(gen.QUERY_KINDS)

    def extra_report(self, walls):
        """Per-query latency over every query since set-up began (the
        warm rounds included): median, and p90 when at least ten samples
        lie beyond it, else the highest percentile that has."""
        lat = [x for v in self.latency.values() for x in v]
        out = {"spatial_query_s_p50": (percentile(lat, 50), "s"), "queries": (float(len(lat)), "count")}
        q = highest_supported(len(lat))
        if q is not None and q > 50:
            out[f"spatial_query_s_p{q:g}"] = (percentile(lat, q), "s")
        out.update({f"{k}_s_p50": (percentile(v, 50), "s") for k, v in self.latency.items() if v})
        return out

    def layer_metrics(self, counters, n_ops):
        out, extra = {}, {}
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        if self.box_stats:
            out["operators.covering.cover_s"] = med([b[0] for b in self.box_stats])
            out["operators.covering.cells_per_query"] = float(np.mean([b[1] for b in self.box_stats]))
            extra["query.planning_s"] = (med([b[2] for b in self.box_stats]), "s")
        extra["operators.containment.box_s_p50"] = (med(self.latency["box"]), "s")
        extra["operators.radius.s_p50"] = (med(self.latency["radius"]), "s")
        extra["operators.bulkcover.polygon_s_p50"] = (med(self.latency["polygon"]), "s")
        extra["operators.knn.s_p50"] = (med(self.latency["knn"]), "s")
        n_knn = len(self.latency["knn"])
        extra["operators.knn.jobs_per_query"] = (
            counters.get("operators.knn", {}).get("jobs", 0) / max(1, n_knn), "count")
        cand, res = self.candidates
        extra["operators.containment.candidates_per_result"] = (cand / max(1, res), "ratio")
        scanned = sum(c.get("input_records", 0) for c in counters.values())
        n_results = sum(self.result_rows)
        extra["sources.pages.rows_scanned_per_result"] = (scanned / max(1, n_results), "ratio")
        return out, extra


# ---------------------------------------------------------------------------
# ingest_checkpoint
# ---------------------------------------------------------------------------


class IngestCheckpoint(Workload):
    """Raw pages -> Arrow-UDF encode -> range-partitioned sorted write,
    through the checkpointed encode/pip/tiles stages; then a resume
    invocation over the completed root."""

    name = "ingest_checkpoint"
    size = 100_000
    files = 2
    partitions = 4
    sample = 256

    def _generate(self, d: Path) -> None:
        t = gen.pages_table(self.seed, self.size)
        gen.write_parquet_files(t, d / "raw", self.files)
        boxes = gen.rollup_boxes(self.seed)
        lat, lon = t.column("lat").to_numpy(), t.column("lon").to_numpy()
        pip = sum(int(oracle.in_box(lat, lon, a, b, c, e).sum()) for _, a, b, c, e in boxes)
        digest = oracle.digest(t.column("doc_id").to_numpy())
        (d / "expected.json").write_text(json.dumps({"boxes": boxes, "pip": pip, "digest": digest}))

    def prepare(self, spark) -> None:
        exp = json.loads((self.dir / "expected.json").read_text())
        self.boxes, self.exp_pip = [tuple(b) for b in exp["boxes"]], exp["pip"]
        self.exp_digest = tuple(exp["digest"])
        regions, self.layer = _box_coverings(self.tr, self.boxes)
        self.cov, build_s = _covering_table(self.tr, spark, regions)
        self.layer["operators.containment.covering_build_s"] = build_s
        self.root = self.work / "ingest"
        self.resume_s: list[float] = []
        self.stage_s: dict[str, list[float]] = {"write": [], "is_complete": []}

    def _pipeline(self, spark):
        """Run (or resume) the three stages; returns the pipeline."""
        from pyspark.sql import functions as F

        from s2cell_spark.operators import containment, tiling
        from s2cell_spark.plans.checkpoint import CheckpointedPipeline
        from s2cell_spark.sources import pages as P

        pipe = CheckpointedPipeline(spark, str(self.root))
        self._instrument(pipe)
        raw = str(self.dir / "raw")

        def encode():
            with self.tr.span("sources.pages"):
                pages = spark.read.parquet(raw)
            with self.tr.span("functions.udfs"):
                enc = P.with_cell_id(pages)
            return enc.repartitionByRange(self.partitions, "cell_id_sortable")

        def pip():
            with self.tr.span("operators.containment"):
                j = containment.containment_join_equi(pipe.read("encode"), spark, self.cov, level=10)
                return j.filter(_box_cond(self.boxes, "region_id")).select(
                    "region_id", "doc_id", "url", "cell_id", "lat", "lon")

        def tiles():
            with self.tr.span("operators.tiling"):
                return tiling.tile_heatmap(pipe.read("encode"), zoom=6)

        for name, build, inputs, sort_cols in [
            ("encode", encode, (), ("cell_id_sortable", "url")),
            ("pip", pip, ("encode",), ()),
            ("tiles", tiles, ("encode",), ()),
        ]:
            with self.tr.span("plans.checkpoint"):
                pipe.stage(name, build, inputs=inputs, sort_cols=sort_cols)
        return pipe

    def _instrument(self, pipe) -> None:
        """Time the pipeline's snapshot writes and completeness checks
        from outside, by wrapping them on this instance."""
        write, is_complete = pipe._write, pipe.is_complete

        def timed_write(stage, df):
            t = time.perf_counter()
            with self.tr.span("plans.checkpoint.write"):
                write(stage, df)
            self.stage_s["write"].append(time.perf_counter() - t)

        def timed_is_complete(stage, fingerprint=None):
            t = time.perf_counter()
            with self.tr.span("plans.checkpoint.is_complete"):
                ok = is_complete(stage, fingerprint)
            self.stage_s["is_complete"].append(time.perf_counter() - t)
            return ok

        pipe._write, pipe.is_complete = timed_write, timed_is_complete

    def op(self, spark):
        shutil.rmtree(self.root, ignore_errors=True)
        return self._pipeline(spark)

    def after_loop(self, spark) -> str | None:
        """The resume invocation over the last operation's completed root:
        timed once, and checked to reuse every stage and read back every
        page."""
        n_checks = len(self.stage_s["is_complete"])
        t = time.perf_counter()
        resumed = self._pipeline(spark)
        self.resume_s.append(time.perf_counter() - t)
        # a fresh run's completeness checks find no manifest and return at
        # once; the resume's are the ones that read the stages back
        self.resume_checks = self.stage_s["is_complete"][n_checks:]
        if not all(m.get("resumed") for m in resumed.metrics):
            return "ingest_checkpoint: resume recomputed a completed stage"
        return self._check_encode_stage(resumed)

    def check(self, out) -> str | None:
        from pyspark.sql import functions as F

        from s2cell_spark import kernels as K

        fresh = out
        counts = {m["stage"]: m["row_count"] for m in fresh.metrics}
        want = {"encode": self.size, "pip": self.exp_pip}
        for stage, n in want.items():
            if counts.get(stage) != n:
                return f"ingest_checkpoint: stage {stage} wrote {counts.get(stage)} rows, expected {n}"
        tiles = fresh.read("tiles").agg(F.sum("n_pages")).collect()[0][0]
        if tiles != self.size:
            return f"ingest_checkpoint: tiles cover {tiles} pages, expected {self.size}"
        rows = fresh.read("encode").select("lat", "lon", "cell_id").limit(self.sample).collect()
        lat = np.array([r["lat"] for r in rows])
        lon = np.array([r["lon"] for r in rows])
        got = np.array([r["cell_id"] for r in rows], dtype=np.int64).view(np.uint64)
        if not np.array_equal(got, K.lat_lon_to_cell_id(lat, lon).astype(np.uint64)):
            return "ingest_checkpoint: sampled cell_id differs from kernels.lat_lon_to_cell_id"
        return self._check_encode_stage(fresh)

    def _check_encode_stage(self, pipe) -> str | None:
        got = _digest_row(pipe.read("encode").agg(*_digest_cols()).collect()[0])
        if got != self.exp_digest:
            return f"ingest_checkpoint: encode stage holds doc_ids {got}, expected {self.exp_digest}"
        return None

    def _written(self) -> tuple[int, int]:
        files = [p for p in self.root.glob("*/data/*.parquet")]
        return len(files), sum(p.stat().st_size for p in files)

    def extra_report(self, walls):
        n_files, n_bytes = self._written()
        return {
            "ingest_pages_per_s": (self.size / statistics.median(walls), "pages/s"),
            "resume_s": (self.resume_s[-1], "s"),
            "bytes_written_per_page": (n_bytes / self.size, "B/page"),
        }

    def probe(self, spark) -> None:
        self.probes = page_layer_probes(
            self.tr, spark, str(self.dir / "raw"), self.cov, self.boxes, self.partitions)
        self.kernel_pps = kernel_points_per_s(self.seed)

    def layer_metrics(self, counters, n_ops):
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        out, extra = page_layer_metrics(self.probes, counters, self.size, max(1, n_ops))
        out.update(self.layer)
        n_files, n_bytes = self._written()
        out["kernels.encode_points_per_s"] = self.kernel_pps
        out["plans.checkpoint.files_written"] = float(n_files)
        out["plans.checkpoint.bytes_written_per_page"] = n_bytes / self.size
        ck = counters.get("plans.checkpoint.write", {})
        stage_calls = 3 * max(1, n_ops)
        extra.update({
            "plans.checkpoint.write_s": (med(self.stage_s["write"]), "s"),
            "plans.checkpoint.is_complete_s": (med(self.resume_checks), "s"),
            "plans.checkpoint.manifest_s": (
                counters.get("_self_s", {}).get("plans.checkpoint", 0.0) / stage_calls, "s"),
            "plans.checkpoint.shuffle_bytes_per_page": (
                ck.get("shuffle_write_bytes", 0) / (max(1, n_ops) * self.size), "B/page"),
            "plans.checkpoint.resume_s": (med(self.resume_s), "s"),
        })
        return out, extra


# ---------------------------------------------------------------------------
# dedup_clusters
# ---------------------------------------------------------------------------


class DedupClusters(Workload):
    """Text near-duplicate resolution: shingle sets -> DF-capped exact
    Jaccard pairs and MinHash-LSH pairs -> connected components over the
    exact pairs -> cluster labels; plus an n-gram contamination report
    against a seeded probe set. No S2 code runs."""

    name = "dedup_clusters"
    n_base = 500
    replicas = 4
    threshold_bp = 2000
    max_df = 12
    size = n_base * replicas

    def _generate(self, d: Path) -> None:
        import pyarrow.parquet as pq

        corpus, probes, planted = gen.text_corpus(self.seed, self.n_base, self.replicas)
        d.joinpath("corpus").mkdir()
        ids = sorted(corpus)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": [corpus[i] for i in ids]}), d / "corpus" / "part-00000.parquet")
        d.joinpath("probes").mkdir()
        pids = sorted(probes)
        pq.write_table(pa.table({"doc_id": pa.array(pids, pa.int64()),
                                 "text": [probes[i] for i in pids]}), d / "probes" / "part-00000.parquet")
        sets = {i: gen.shingles(t) for i, t in corpus.items()}
        sets = {i: s for i, s in sets.items() if s}
        pairs = oracle.jaccard_pairs(sets, self.threshold_bp, self.max_df)
        labels = oracle.components(pairs)
        cont = oracle.contamination(sets, probes.values(), self.threshold_bp)
        strong = [(a, b) for a, b in planted if a in sets and b in sets
                  and oracle.jaccard_bp(sets[a], sets[b]) >= 9000]
        (d / "expected.json").write_text(json.dumps({
            "pairs": [[a, b, bp] for (a, b), bp in sorted(pairs.items())],
            "labels": sorted(labels.items()),
            "contamination": [[k, *v] for k, v in sorted(cont.items())],
            "strong_planted": strong,
        }))

    def prepare(self, spark) -> None:
        exp = json.loads((self.dir / "expected.json").read_text())
        self.exp_pairs = {(a, b): bp for a, b, bp in exp["pairs"]}
        self.exp_labels = {int(k): int(v) for k, v in exp["labels"]}
        self.exp_cont = {int(r[0]): (r[1], r[2], r[3], bool(r[4])) for r in exp["contamination"]}
        self.strong = [tuple(p) for p in exp["strong_planted"]]
        texts = pd.read_parquet(self.dir / "corpus")
        self.sets = {int(i): gen.shingles(t) for i, t in zip(texts["doc_id"], texts["text"])}
        self.docs = spark.read.parquet(str(self.dir / "corpus"))
        self.probes = spark.read.parquet(str(self.dir / "probes"))
        self.cand_counts: list[tuple[int, int]] = []

    def op(self, spark):
        from pyspark import StorageLevel

        from s2cell_spark.operators import components, contamination, dedup

        with self.tr.span("operators.dedup.shingled_docs"):
            wsets = dedup.shingled_docs(self.docs).persist(StorageLevel.MEMORY_AND_DISK)
            wsets.count()
        try:
            with self.tr.span("operators.dedup.jaccard_pairs_exact"):
                jp = dedup.jaccard_pairs_exact(
                    self.docs, self.threshold_bp, max_df=self.max_df, wsets=wsets).collect()
            with self.tr.span("operators.dedup.minhash_near_dup_pairs"):
                mp = dedup.minhash_near_dup_pairs(self.docs, threshold_bp=self.threshold_bp, wsets=wsets).collect()
            if self.tr.enabled:
                with self.tr.span("probe.operators.dedup.minhash_lsh_candidates"):
                    n_cand = dedup.minhash_lsh_candidates(self.docs, wsets=wsets).count()
                self.cand_counts.append((n_cand, len(mp)))
        finally:
            wsets.unpersist()
        with self.tr.span("operators.components"):
            edges = spark.createDataFrame(
                pd.DataFrame({"doc_a": [r["doc_a"] for r in jp], "doc_b": [r["doc_b"] for r in jp]},
                             dtype="int64"))
            labels = components.connected_components(edges, src="doc_a", dst="doc_b").collect()
        with self.tr.span("operators.contamination"):
            cont = contamination.ngram_contamination(self.docs, self.probes, threshold_bp=self.threshold_bp).collect()
        return jp, mp, labels, cont

    def check(self, out) -> str | None:
        jp, mp, labels, cont = out
        got = {(int(r["doc_a"]), int(r["doc_b"])): int(r["jacc_bp"]) for r in jp}
        if got != self.exp_pairs:
            miss = set(self.exp_pairs) ^ set(got)
            return f"dedup_clusters: {len(got)} Jaccard pairs, expected {len(self.exp_pairs)} ({len(miss)} differ)"
        mh = {(int(r["doc_a"]), int(r["doc_b"])): int(r["jacc_bp"]) for r in mp}
        for (a, b), bp in mh.items():
            if bp < self.threshold_bp or bp != oracle.jaccard_bp(self.sets[a], self.sets[b]):
                return f"dedup_clusters: MinHash pair ({a}, {b}) reports {bp} bp"
        lost = [p for p in self.strong if p not in mh]
        if lost:
            return f"dedup_clusters: MinHash missed {len(lost)} planted pairs with Jaccard >= 0.9"
        lab = {int(r["node"]): int(r["component"]) for r in labels}
        if lab != self.exp_labels:
            return f"dedup_clusters: {len(lab)} labels, expected {len(self.exp_labels)} (or values differ)"
        c = {int(r["doc_id"]): (int(r["n_shingles"]), int(r["n_matched"]), int(r["contam_bp"]),
                                bool(r["contaminated"])) for r in cont}
        if c != self.exp_cont:
            return f"dedup_clusters: contamination rows differ ({len(c)} vs {len(self.exp_cont)})"
        return None

    def extra_report(self, walls):
        return {"dedup_docs_per_s": (self.size / statistics.median(walls), "docs/s")}

    def layer_metrics(self, counters, n_ops):
        selfs = counters.get("_self_s", {})
        n = max(1, n_ops)
        comp = counters.get("operators.components", {})
        plans = comp.get("plans", [])
        checks = sum(1 for p in plans if "xxhash64" in p)
        cand, pairs = (sum(x) for x in zip(*self.cand_counts)) if self.cand_counts else (0, 0)
        extra = {
            "operators.dedup.shingle_s": (selfs.get("operators.dedup.shingled_docs", 0.0) / n, "s"),
            "operators.dedup.jaccard_pairs_s": (selfs.get("operators.dedup.jaccard_pairs_exact", 0.0) / n, "s"),
            "operators.dedup.minhash_pairs_s": (selfs.get("operators.dedup.minhash_near_dup_pairs", 0.0) / n, "s"),
            "operators.dedup.candidates_per_pair": (cand / max(1, pairs), "ratio"),
            "operators.components.components_s": (selfs.get("operators.components", 0.0) / n, "s"),
            "operators.components.rounds": (2.0 * max(0, checks / n - 1), "count"),
            "operators.components.jobs": (comp.get("jobs", 0) / n, "count"),
            "operators.components.broadcast_joins": (
                sum(p.count("BroadcastHashJoin") for p in plans) / n, "count"),
            "operators.contamination.contamination_s": (selfs.get("operators.contamination", 0.0) / n, "s"),
        }
        return {}, extra


WORKLOADS = {w.name: w for w in (TagRollup, SpatialQueries, IngestCheckpoint, DedupClusters)}
