"""Physical-plan regression tests — the scale-critical properties.

At 100 TB the difference between a correct plan and a correct-but-
wrong-shaped plan IS the outcome (SURVEY.md §4.2), so the properties are
asserted, not assumed:

* containment joins broadcast the covering dim — pages NEVER shuffle;
* queries claimed "fully native" really contain no Python eval node;
* parquet scans prune to the needed columns (never read html/text unless
  the query uses them);
* aggregations are partial+final (map-side combine before the exchange).
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as E

    return E


def test_containment_equi_broadcasts_pages_never_shuffle(spark, entry):
    plan = _plan(entry._q_pip(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only exchange allowed is the broadcast of the covering dim
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_exact_filter_sits_below_encode_udf(spark, entry):
    """The rect predicate must run BEFORE the (expensive) encode UDF output
    is joined — i.e. a Filter node carrying the rect bounds appears BELOW
    ArrowEvalPython in the plan (deeper in the tree = earlier in
    execution). Matched on an actual box constant (39.7, the NYC lat_lo)
    inside a Filter line, not just any Filter — the scan's isnotnull
    filters would satisfy a bare position check vacuously."""
    import re

    plan = _plan(entry._q_pip(spark, SF))
    arrow_pos = plan.index("ArrowEvalPython")
    below = plan[arrow_pos:]
    assert re.search(r"Filter [^\n]*39\.7", below), (
        "rect predicate no longer evaluated below the encode UDF"
    )


@pytest.mark.parametrize(
    "name",
    [
        "s2_bitops",
        "dedup_exact",
        "jaccard_pairs",
        "minhash_near_dups",
        "simhash",
        "doc_fingerprint",
        "token_count",
        "quality_score",
        "lang_id",
        "tile_heatmap_z6",
        "events_window_1h",
        "asof_clicks_views",
        "user_sessions",
    ],
)
# (cell_heatmap_l8 / hierarchical_rollup legitimately contain ONE
# ArrowEvalPython: the S2 encode kernel itself; the aggregation around it
# is native — covered by test_heatmap_has_partial_aggregation. The
# native encode arm is NOT the query-path default: inner containment
# joins on native-cell keys explode planning — CLAUDE.md trap.)
def test_native_queries_have_no_python_eval(spark, entry, name):
    """Everything not inherently kernel-bound stays in JVM codegen — the
    'UDFs are the slow path' rule, enforced."""
    plan = _plan(entry.queries()[name](spark, SF))
    assert "ArrowEvalPython" not in plan, name
    assert "BatchEvalPython" not in plan, name


def test_events_by_cell_broadcasts_small_dim(spark, entry):
    """At test SF the pages dim estimate is tiny -> the size gate applies
    the broadcast hint and the star join is a BroadcastHashJoin."""
    plan = _plan(entry.queries()["events_by_cell"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_events_by_cell_degrades_to_shuffle_join_when_dim_large(spark, entry):
    """The scale half of the size gate: when the threshold says the dim is
    too big to broadcast (threshold 0 stands in for a 10^12-page dim), the
    equi-join must degrade to a shuffle hash / sort-merge join — never a
    BroadcastNestedLoopJoin, never a forced broadcast of the pages side."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(entry.queries()["events_by_cell"](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def _knn_action_plans(spark, entry, sf, monkeypatch) -> list[str]:
    """The plan of every ``collect``/``count`` the ``knn_pages`` call runs.
    kNN collects its rounds and returns a local table, so the returned
    frame's own plan says nothing about the search."""
    plans = []
    cls = type(spark.range(1))
    for name in ("collect", "count"):
        orig = getattr(cls, name)

        def spy(df, *a, _orig=orig, **kw):
            plans.append(_plan(df))
            return _orig(df, *a, **kw)

        monkeypatch.setattr(cls, name, spy)
    entry.queries()["knn_pages"](spark, sf)
    monkeypatch.undo()
    return plans


def test_knn_phase2_has_no_nested_loop_join(spark, entry, monkeypatch):
    """Every kNN round must plan as covering containment (the within-radius
    join's broadcast equi joins) — a raw non-equi distance join would
    become a BroadcastNestedLoopJoin, O(pages x queries) at scale."""
    plans = _knn_action_plans(spark, entry, SF, monkeypatch)
    assert plans
    for plan in plans:
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_knn_runs_no_python_stage_beyond_the_encode(spark, entry, monkeypatch):
    """Every kNN round is the within-radius join — covering, equi join and
    haversine filter all native — so the only Python node in any plan kNN
    runs is the pages S2-encode kernel; no MapInArrow stab is left."""
    plans = _knn_action_plans(spark, entry, SF, monkeypatch)
    assert plans
    for plan in plans:
        assert "MapInArrow" not in plan
        assert plan.count("ArrowEvalPython") == 1


def test_knn_pages_takes_the_cache_count_and_one_round(spark, entry, monkeypatch):
    """At sf0.01 the first cap, sized from the page count to hold ~2k pages,
    already holds k for every ``knn_pages`` query: two actions, the count
    that materializes the narrow cache and one search round."""
    plans = _knn_action_plans(spark, entry, "/root/testdata/sf0.01", monkeypatch)
    assert len(plans) == 2, len(plans)


def test_tile_topk_window_has_partial_group_limit(spark, entry):
    """Per-tile top-k relies on Spark's WindowGroupLimit pushdown for
    skew safety (map-side per-key top-k BEFORE the exchange — the reason
    hand-salting this window measured slower, BENCH/SKEW.md). Pin the
    Partial stage so a query change that breaks the pushdown (a
    non-filterable rank expression) fails loudly instead of silently
    re-introducing the hot-tile straggler."""
    plan = _plan(entry.queries()["tile_topk_pages"](spark, SF))
    # both halves of the pushdown: map-side Partial + post-shuffle Final
    assert plan.count("WindowGroupLimit") >= 2
    assert "row_number(), 3, Partial" in plan


def test_broadcast_if_small_size_gate():
    from s2cell_spark.plans.joins import _parse_size_conf

    assert _parse_size_conf("10485760b") == 10 << 20
    assert _parse_size_conf("10m") == 10 << 20
    assert _parse_size_conf("1gb") == 1 << 30
    assert _parse_size_conf("-1") == -1
    assert _parse_size_conf("52428800") == 50 << 20


def test_heatmap_has_partial_aggregation(spark, entry):
    plan = _plan(entry.queries()["cell_heatmap_l8"](spark, SF))
    # partial + final pair around one exchange
    assert plan.count("HashAggregate") >= 2


def test_scan_prunes_unused_columns(spark, entry):
    """tile_heatmap derives everything from doc_id — the parquet scan must
    not read text (or anything else)."""
    plan = _plan(entry.queries()["tile_heatmap_z6"](spark, SF))
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in scan
    assert "text" not in scan and "lang" not in scan


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides written bucketed on the join key -> the join plans with
    ZERO Exchange (Spark trusts the on-disk bucket layout). This is the
    co-location story for huge-x-huge joins at 10^12 rows, where the
    per-query shuffle would otherwise BE the query cost."""
    from pyspark.sql import functions as F

    from s2cell_spark.plans.bucketing import write_bucketed

    fact = spark.range(10_000).select(
        (F.col("id") % 500).alias("user_id"), (F.col("id") * 3).alias("v")
    )
    dim = spark.range(500).select(
        F.col("id").alias("user_id"), F.concat(F.lit("u"), F.col("id")).alias("name")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(fact, "t_fact_b", "user_id", 4)
        write_bucketed(dim, "t_dim_b", "user_id", 4)
        joined = spark.table("t_fact_b").join(spark.table("t_dim_b"), "user_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_fact_b")
        spark.sql("DROP TABLE IF EXISTS t_dim_b")


def test_range_partitioned_write_enables_cell_range_pruning(spark, tmp_path):
    """The north-rule storage layout: pages range-partitioned + sorted on
    cell_id_sortable. Evidence both halves of the pruning story: the
    range predicate reaches the parquet scan (PushedFilters), and
    Hilbert-clustered layout confines any cell range to a small fraction
    of the files (so footer min/max stats can skip the rest)."""
    from pyspark.sql import functions as F

    from s2cell_spark.sources.pages import load_pages, with_cell_id, write_pages_partitioned

    pages = with_cell_id(load_pages(spark, SF))
    out = str(tmp_path / "ranged")
    write_pages_partitioned(pages, out, num_partitions=8)
    rd = spark.read.parquet(out)
    vals = sorted(r["cell_id_sortable"] for r in rd.select("cell_id_sortable").collect())
    lo, hi = vals[len(vals) // 10], vals[3 * len(vals) // 10]  # ~20% slice
    q = rd.filter((F.col("cell_id_sortable") >= lo) & (F.col("cell_id_sortable") <= hi))
    plan = _plan(q)
    scan = plan[plan.index("PushedFilters") :].splitlines()[0]
    assert "GreaterThanOrEqual(cell_id_sortable" in scan
    # the display truncates the filter list — LessThan prefix suffices
    assert "LessThan" in scan
    n_files = q.select(F.input_file_name()).distinct().count()
    assert n_files <= 4, f"20% cell range touched {n_files}/8 files — layout not clustered"
    assert q.count() == sum(1 for v in vals if lo <= v <= hi)


def test_pages_loader_never_reads_html_by_default(spark):
    from s2cell_spark.sources.pages import load_pages

    plan = _plan(load_pages(spark, SF).select("url", "lat", "lon"))
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "html" not in scan and "text" not in scan


def test_ivf_bucketed_index_prunes_buckets_and_runs_no_assignment_udf(spark):
    """The bucketed ANN path (VERDICT r2 #7): probing an ivf_index_write
    table must (a) bucket-prune the scan to the probed lists
    (SelectedBucketsCount < total), and (b) contain no Python eval before
    the probe join — the centroid assignment was paid once at write time.
    Results must be row-identical to the one-shot ivf_topk."""
    import numpy as np
    from pyspark.sql import functions as F

    from s2cell_spark.operators.similarity import (
        ivf_index_write,
        ivf_topk,
        ivf_topk_from_index,
    )

    rng = np.random.default_rng(3)
    n, dim, n_cells, nprobe = 400, 16, 8, 2
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.standard_normal(dim)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = [(int(i), [float(x) for x in rng.standard_normal(dim)]) for i in range(3)]
    try:
        d = ivf_index_write(emb, "t_ivf_plan", n_cells=n_cells)
        out = ivf_topk_from_index(
            spark, "t_ivf_plan", d, queries, k=5, n_cells=n_cells, nprobe=nprobe
        )
        plan = _plan(out)
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, "scan is not bucket-pruned:\n" + plan[:2000]
        assert int(m.group(1)) < int(m.group(2))
        # the probe path itself is UDF-free (everything before the window)
        scan_region = plan[plan.index("SelectedBucketsCount"):]
        assert "ArrowEvalPython" not in scan_region
        assert "BatchEvalPython" not in plan
        ref = ivf_topk(emb, queries, k=5, n_cells=n_cells, nprobe=nprobe)
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivf_plan")


def test_asof_join_is_union_window_not_nested_loop(spark, entry):
    """The as-of join must stay the union-merge window formulation: no
    join operator at all in the plan (a non-equi ts-range join would plan
    as BroadcastNestedLoopJoin — O(|l| x |r|) per key), exactly one
    key-hash Exchange feeding the window sort."""
    plan = _plan(entry._q_asof_arm(False)(spark, SF))
    assert "NestedLoop" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" in plan and "Union" in plan
    # exactly two key-hash exchanges: the query's views-dedup aggregate
    # (partial+final around its own exchange) and the operator's single
    # union shuffle feeding the window sort — nothing else
    assert plan.count("Exchange hashpartitioning") == 2
    # the chunked arm trades that for (key, chunk)-hash partitions: its
    # windows must partition on BOTH columns (the skew mitigation), and
    # the non-equi ts conjunct must still never plan a nested loop
    cplan = _plan(entry._q_asof_arm(True)(spark, SF))
    assert "NestedLoop" not in cplan
    assert "_chunk" in cplan and "Window" in cplan


def test_within_radius_broadcasts_cap_covering_pages_never_shuffle(spark, entry):
    """The radius join is the containment-join cost model: covering dim
    broadcast, exact haversine native, pages side never exchanged."""
    plan = _plan(entry._q_within_radius(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    # exactly ONE python node: the S2 encode kernel; the haversine
    # verify stage must not add another
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_bloom_probe_runs_below_the_fact_exchange(spark):
    """The bloom join's reason to exist: the fact is filtered BEFORE its
    shuffle. Synthetic UDF-free inputs so the ONLY Python node is the
    probe; tree printing puts parents first, so the fact-side Exchange
    line must precede (sit above) the ArrowEvalPython probe, and the join
    must be the hinted shuffle-hash, never a broadcast."""
    from pyspark.sql import functions as F

    from s2cell_spark.plans.bloom import bloom_pruned_join

    fact = spark.range(0, 1000).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    dim = spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") * 3).alias("a"))
    plan = _plan(bloom_pruned_join(fact, dim, on="k"))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert plan.index("Exchange hashpartitioning") < plan.index("ArrowEvalPython")


def test_interval_join_is_equi_never_nested_loop(spark, entry):
    """The bucketization's whole purpose: a keyless range join must plan
    as an equi join on the bucket key, never BNLJ/cartesian."""
    plan = _plan(entry.queries()["events_in_windows"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cc_pipeline_is_fused_single_scan(spark, entry):
    """The pipeline's gates are bare exprs in ONE scan: no join of derived
    tables anywhere in the plan, exactly one parquet scan, and the only
    Python node is the S2 encode kernel."""
    plan = _plan(entry.queries()["cc_pipeline"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    # r5: the S2 encode is native, so the whole pipeline is Python-free
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_cc_pipeline_dedup_keeper_has_partial_group_limit(spark, entry):
    """The exact-dedup keeper must be the rank-filter form
    (row_number()==1), which Spark rewrites to WindowGroupLimit
    Partial/Final — a min-over-window keeper has NO map-side reduction
    and serializes a 10^7x-duplicated boilerplate doc into one window
    partition at 100 TB (round-3 verdict, What's wrong #2)."""
    plan = _plan(entry.queries()["cc_pipeline"](spark, SF))
    assert plan.count("WindowGroupLimit") >= 2
    assert "row_number(), 1, Partial" in plan


def test_colocated_pairs_self_join_has_no_exchange_no_sort(spark, entry):
    """The bucketed self-join's reason to exist: the on-disk bucket
    layout satisfies the join distribution — zero Exchange on either
    side. (The per-task Sort remains: Spark stopped trusting bucket SORT
    metadata by default in 3.0 — SPARK-28632, legacy flag
    bucketedTableScan.outputOrdering — and sorting an already-sorted run
    is the cheap part; the Exchange is what costs at 10^12 rows.)
    Auto-broadcast is disabled for the assertion: at test SF the whole
    table fits the broadcast threshold (and broadcasting it IS optimal
    there); the bucketed SMJ is the plan the layout guarantees once
    stats exceed it."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(entry.queries()["colocated_pairs"](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "SelectedBucketsCount: 16 out of 16" in plan


def test_contamination_probe_is_broadcast_corpus_never_shuffles_shingles(spark, entry):
    """The decontamination pass at 10^12 docs: the benchmark's distinct
    shingle set broadcasts (stats-gated) and the corpus side is map-only
    until the matched-docs rollup — exploded corpus shingles must never
    cross a SortMergeJoin exchange. The one corpus-side hashpartitioning
    exchange allowed is the per-doc count aggregate (partial+final)."""
    plan = _plan(entry.queries()["contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the broadcast side's distinct runs on benchmark shingles (tiny by
    # nature); the probe join itself must sit below any corpus exchange:
    # joining then aggregating means exactly one post-join hash exchange.
    post_join = plan[: plan.index("BroadcastHashJoin")]
    assert post_join.count("Exchange hashpartitioning") == 1


def test_spatial_clusters_page_side_is_one_partial_rollup(spark, entry):
    """Grid-DBSCAN's scale contract: pages are touched by exactly ONE
    map-side-partial aggregate (the heatmap rollup) and the IJ-decode UDF
    runs AFTER the density filter on the grid-bounded dense-cell frame —
    never per page."""
    from pyspark.sql import functions as F

    from s2cell_spark.operators.spatialcluster import dense_cells

    pages = entry._pages_with_cells(spark, SF)
    plan = _plan(dense_cells(pages, level=7, min_pages=3))
    # one exchange total: the rollup's partial/final pair
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2
    # the decode UDF (ArrowEvalPython) must appear ABOVE the aggregate
    # exchange — i.e. the per-page section below the exchange is UDF-free
    # except the S2 encode itself
    below = plan[plan.index("Exchange hashpartitioning") :]
    assert below.count("ArrowEvalPython") == 1  # the page-side S2 encode only
    above = plan[: plan.index("Exchange hashpartitioning")]
    assert above.count("ArrowEvalPython") == 1  # the dense-cell IJ decode only


def test_spatial_clusters_adjacency_is_equi_join(spark, entry):
    """Dense-cell adjacency must be the +i/+j probe equi-join — never a
    BNLJ/cartesian over the dense set."""
    from s2cell_spark.operators.spatialcluster import adjacency_edges, dense_cells

    pages = entry._pages_with_cells(spark, SF)
    dense = dense_cells(pages, level=7, min_pages=2).localCheckpoint(eager=True)
    plan = _plan(adjacency_edges(dense, level=7))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_components_one_observed_checkpoint_per_star_round(spark, monkeypatch):
    """Star rounds cost rounds, not actions: each round ends in ONE
    action, its localCheckpoint, whose plan carries the convergence
    observation (CollectMetrics) — no separate fingerprint collect. Every
    star join in the executed (AQE final) plan is a broadcast."""
    import pandas as pd
    from pyspark.sql.classic.dataframe import DataFrame

    from s2cell_spark.operators.components import connected_components

    plans, collects = [], []
    checkpoint, collect = DataFrame.localCheckpoint, DataFrame.collect

    def recording_checkpoint(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        plans.append(_plan(self))
        return out

    def counting_collect(self):
        collects.append(1)
        return collect(self)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording_checkpoint)
    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    path = pd.DataFrame([(i, i + 1) for i in range(1000, 1200)], columns=["src", "dst"])
    connected_components(spark.createDataFrame(path), max_rounds=25)
    monkeypatch.undo()

    assert collects == []
    # plans[0]: the canonical input edges; plans[-1]: the final labels
    rounds = plans[1:-1]
    assert len(rounds) >= 2
    assert all("CollectMetrics" in p for p in plans[:-1])
    for p in rounds:
        final = p[: p.index("== Initial Plan ==")]
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final
        assert "SortMergeJoin" not in final


def test_throughput_job_single_pass_encodes_every_page(spark, entry, tmp_path, monkeypatch):
    """The tag-rollup throughput job's "pages/sec" honesty pin (round 4,
    BENCH/MICRO.md), on the plan the gated perfbench `tag_rollup`
    workload runs: ONE pages scan with NOTHING pushed into it (outer-
    join tag semantics make the rect predicate un-pushable, so every page
    is S2-encoded), one LEFT BroadcastHashJoin against the covering dim,
    and a partial+final rollup — no SortMergeJoin, no pages-side
    exchange before the aggregate, and ZERO Python nodes (the native
    encode's whole point — rows never leave the JVM)."""
    from pathlib import Path

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "perfbench"))
    import tracing
    import workloads

    from s2cell_spark.operators.containment import normalized_coverings_df
    from s2cell_spark.sources.pages import load_pages

    # materialize literal lat/lon columns like the benchmark input table
    path = str(tmp_path / "pages")
    load_pages(spark, SF).write.parquet(path)
    pages = spark.read.parquet(path).select("lat", "lon")
    cov = normalized_coverings_df(spark, entry._box_regions(), 10)
    df = workloads._tag_rollup_plans(tracing.Tracer(False), pages, cov, entry.PIP_BOXES)[3]
    plan = _plan(df)
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 1
    assert "DataFilters: []" in scans[0]  # nothing pushed: every page scans
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # rollup is partial+final around a single hash exchange of cell keys
    assert plan.count("HashAggregate") >= 2
    row = df.collect()[0]
    assert (row["p"], row["m"]) == (500, 87)


@pytest.mark.parametrize("arm", ["fixture", "bulk"])
def test_bulk_pip_covering_runs_on_executors_and_exact_stage_is_native(spark, entry, arm):
    """The bulk-PIP pipeline's scale contract, for both arms of the
    pip_polygons query: the polygon coverings are an EXECUTOR stage (MapInArrow over
    the polygons frame, below a broadcast — never a per-polygon driver
    loop), the exact ray-cast is a native higher-order-function filter
    (no second Python node — the only ArrowEvalPython is the pages
    S2-encode kernel), and the pages side joins by broadcast with no
    sort-merge anywhere. Each polygon is covered once (one MapInArrow
    node) and normalized by one projection (no hash exchange at all)."""
    args = {"fixture": (entry.PIP_POLYGONS,), "bulk": (entry._bulk_polygons(), 8)}[arm]
    plan = _plan(entry._pip_polygons_arm(spark, SF, *args))
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1  # the pages S2-encode kernel
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan
    # one covering pass per polygon, normalized without a dedup shuffle
    lines = plan.splitlines()
    assert sum("MapInArrow run(" in line for line in lines) == 1
    assert not any("Exchange hashpartitioning" in line for line in lines)


def test_bulk_pip_rings_broadcast_is_size_gated(spark, entry):
    """The exact stage's rings side broadcasts only through the plan-stats
    gate: on the large-polygon path (broadcast_covering=False) with a
    1-byte broadcast threshold nothing in the plan is broadcast, while
    the default path still broadcasts both the covering and the rings."""
    from s2cell_spark.operators.bulkcover import RINGS_TYPE, bulk_pip_join

    polys = spark.createDataFrame(
        [(rid, rings) for rid, rings in entry._bulk_polygons(8).items()],
        schema=f"region_id long, rings {RINGS_TYPE}",
    )
    pages = entry._pages_with_cells(spark, SF)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        large = _plan(bulk_pip_join(pages, polys, broadcast_covering=False))
    finally:
        spark.conf.set(key, old)
    assert "BroadcastExchange" not in large
    assert "NestedLoop" not in large
    default = _plan(bulk_pip_join(pages, polys))
    assert default.count("BroadcastExchange") == 2


def test_one_python_boundary_style_outside_streaming():
    """Every Python stage outside streaming/ crosses the JVM boundary as
    Arrow (arrow_udf / mapInArrow). A pandas UDF or mapInPandas stage
    would bring back the pandas null/dtype conversion, under which a
    null in an int64 batch turns the whole batch float64 and corrupts
    cell IDs above 2^53. Inside streaming/, the one pandas stage left
    is the stateful first-seen dedup in ingest.py."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "s2cell_spark"
    hits = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if "streaming" not in path.relative_to(root).parts
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "pandas_udf" in line or "mapInPandas" in line
    ]
    assert hits == []
    stateful = [
        str(path.relative_to(root))
        for path in sorted(root.rglob("*.py"))
        if "applyInPandasWithState(" in path.read_text()
    ]
    assert stateful == ["streaming/ingest.py"]


def test_driver_built_covering_is_a_local_relation(spark):
    """A covering built on the driver ships as an Arrow LocalRelation with
    the Arrow conf OFF (the default outside the test session). Pickled
    Python rows would plan as a LogicalRDD (ExistingRDD scan), and every
    action reading it would start a Python-worker job. The normalized
    table holds exactly the numpy single-level covering."""
    from s2cell_spark.operators import covering as COV
    from s2cell_spark.operators.containment import normalized_coverings_df

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        cells = COV.latlng_rect_covering(10.0, 12.0, 20.0, 23.0, max_level=10)
        regions = {3: cells, 4: cells[:2]}
        df = normalized_coverings_df(spark, regions, 8)
        qe = df._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        executed = qe.executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "LocalRelation" in optimized, optimized
    assert "ExistingRDD" not in executed
    assert df.schema.simpleString() == "struct<region_id:bigint,cov_cell:bigint>"
    assert df.count() == sum(len(COV.covering_to_level(c, 8)) for c in regions.values())


def test_driver_built_tables_go_through_one_helper():
    """Every createDataFrame call in the library, the query driver and the
    scripts is the one inside functions/udfs.arrow_frame, so each
    driver-built table is an Arrow LocalRelation with an explicit schema,
    never pickled Python rows."""
    import ast
    from pathlib import Path

    def creates(node) -> bool:
        return isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "createDataFrame"

    repo = Path(__file__).resolve().parent.parent
    paths = [
        *(repo / "s2cell_spark").rglob("*.py"),
        repo / "__spark_entry__.py",
        *(repo / "scripts").rglob("*.py"),
    ]
    calls, helper = set(), set()
    for path in sorted(paths):
        rel = path.relative_to(repo).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if creates(node):
                calls.add(f"{rel}:{node.lineno}")
            if rel == "s2cell_spark/functions/udfs.py" and getattr(node, "name", None) == "arrow_frame":
                helper |= {f"{rel}:{n.lineno}" for n in ast.walk(node) if creates(n)}
    assert helper and calls - helper == set(), sorted(calls - helper)


def test_library_and_scripts_never_import_test_driver_or_bench():
    """The library and the production entrypoint stand alone: nothing
    under s2cell_spark/ or scripts/ imports the test driver
    (__spark_entry__) or a benchmark harness module."""
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pat = re.compile(r"^\s*(import|from)\s+(__spark_entry__|bench)\b")
    hits = [
        f"{path.relative_to(repo)}:{n}"
        for sub in ("s2cell_spark", "scripts")
        for path in sorted((repo / sub).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pat.match(line)
    ]
    assert hits == []
