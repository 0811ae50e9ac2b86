"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import statistics
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _tree_digest(root: Path) -> dict[str, str]:
    return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*")) if p.is_file()}


# ---------------------------------------------------------------------------
# generator determinism
# ---------------------------------------------------------------------------


class _Small:
    """Shrink a workload class's sizes so its generator runs in a test."""

    def __init__(self, cls, **sizes):
        self.cls, self.sizes = cls, sizes

    def __enter__(self):
        self.old = {k: getattr(self.cls, k) for k in self.sizes}
        for k, v in self.sizes.items():
            setattr(self.cls, k, v)

    def __exit__(self, *exc):
        for k, v in self.old.items():
            setattr(self.cls, k, v)


SMALL = {
    "tag_rollup": {"size": 5000},
    "spatial_queries": {"size": 5000, "rounds": 3},
    "ingest_checkpoint": {"size": 5000},
    "dedup_clusters": {"n_base": 40, "replicas": 2, "size": 80},
}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(name, tmp_path):
    cls = WORKLOADS[name]
    with _Small(cls, **SMALL[name]):
        a = cls(7, gen.InputCache(tmp_path / "a"), tmp_path / "wa", tracing.Tracer(False))
        b = cls(7, gen.InputCache(tmp_path / "b"), tmp_path / "wb", tracing.Tracer(False))
        a.generate()
        b.generate()
        assert a.dir.name == b.dir.name
        assert _tree_digest(a.dir) == _tree_digest(b.dir)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_new_seed_gives_different_inputs(name, tmp_path):
    cls = WORKLOADS[name]
    with _Small(cls, **SMALL[name]):
        a = cls(7, gen.InputCache(tmp_path / "c"), tmp_path / "w", tracing.Tracer(False))
        b = cls(8, gen.InputCache(tmp_path / "c"), tmp_path / "w", tracing.Tracer(False))
        a.generate()
        b.generate()
        assert a.dir != b.dir
        da, db = _tree_digest(a.dir), _tree_digest(b.dir)
        assert set(da) == set(db)
        assert all(da[k] != db[k] for k in da if k != "_DONE")


def test_seed_moves_geotags_and_ids():
    a, b = gen.pages_table(1, 1000), gen.pages_table(2, 1000)
    assert len(set(a.column("doc_id").to_pylist())) == 1000
    assert a.column("doc_id").to_pylist() != b.column("doc_id").to_pylist()
    assert a.column("lat").to_pylist() != b.column("lat").to_pylist()
    # the geotag is a pure function of doc_id
    lat, lon = gen.geotag(a.column("doc_id").to_numpy())
    assert np.array_equal(lat, a.column("lat").to_numpy())


def test_cache_reuses_a_built_key(tmp_path):
    cache = gen.InputCache(tmp_path)
    calls = []

    def build(d):
        calls.append(d)
        (d / "x").write_text("1")

    first = cache.get("k-1", build)
    second = cache.get("k-1", build)
    assert first == second and len(calls) == 1


def test_cache_evicts_oldest_entries_of_a_kind(tmp_path):
    cache = gen.InputCache(tmp_path, keep=2)
    for i in range(4):
        cache.get(f"w-s{i}", lambda d: None)
    cache.get("other-s0", lambda d: None)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["other-s0", "w-s2", "w-s3"]


# ---------------------------------------------------------------------------
# percentile rule and metric names
# ---------------------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert stats.supported(100, 90)          # 10 samples above p90
    assert not stats.supported(99, 90)       # only 9
    assert stats.supported(20, 50)
    assert not stats.supported(19, 50)
    assert stats.highest_supported(1000) == 99.0
    assert stats.highest_supported(100) == 90.0
    assert stats.highest_supported(10) is None


def test_percentile_interpolates():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 90) == 3.0


def test_quartiles_match_statistics_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, med, q3 = stats.quartiles(xs)
    assert (q1, med, q3) == tuple(statistics.quantiles(xs, n=4))
    assert stats.spread(xs) == pytest.approx((q3 - q1) / med)


@pytest.mark.parametrize("name", ["setup_s", "op_s_p50", "a.b-c_d", "0x", "x" * 64])
def test_valid_metric_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "ms%"])
def test_invalid_metric_names(name):
    assert not stats.valid_name(name)


def test_every_declared_metric_name_is_valid():
    for name in list(run.END_TO_END) + list(run.PER_LAYER):
        assert stats.valid_name(name), name


def test_benchmark_json_matches_the_runner():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# ---------------------------------------------------------------------------
# spans and self time
# ---------------------------------------------------------------------------


def test_covered_is_the_clipped_union():
    assert tracing.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert tracing.covered([(1, 3), (2, 5)], 2.5, 4) == pytest.approx(1.5)
    assert tracing.covered([], 0, 1) == 0


def test_self_time_is_span_minus_children():
    S = tracing.Span
    spans = [
        S(0, None, 1, "op", 0.0, 10.0),
        S(1, 0, 1, "a", 1.0, 4.0),
        S(2, 1, 1, "b", 2.0, 3.0),
        S(3, 0, 1, "a", 3.5, 6.0),  # overlaps its sibling: counted once
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx({0: 5.0, 1: 2.0, 2: 1.0, 3: 2.5})
    assert tracing.layer_self_s(spans) == pytest.approx({"op": 5.0, "a": 4.5, "b": 1.0})


def test_tracer_nests_and_is_inert_when_disabled():
    tr = tracing.Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []
    tr = tracing.Tracer(enabled=True)
    tr.new_trace()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.trace == outer.trace == 1
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_event_log_counters_attribute_tasks_to_layers(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 3000},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
                          "Input Metrics": {"Bytes Read": 10, "Records Read": 4},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500}, "Task Metrics": {}},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events))
    c = tracing.by_layer(tracing.parse_event_log([p]), {"span-3": "operators.knn"})["operators.knn"]
    assert c["cpu_s"] == pytest.approx(2.0) and c["gc_s"] == pytest.approx(0.1)
    assert (c["input_records"], c["shuffle_write_bytes"], c["jobs"]) == (4, 7, 1)
    assert c["task_s"] == pytest.approx([2.0, 0.5])


def test_tree_memory_skips_children_still_running_the_parent_binary():
    import os
    import subprocess
    import time

    import session

    me = os.getpid()
    assert session.tree_mb(me)[2] == 1
    pid = os.fork()
    if pid == 0:  # not exec'd: same binary as the parent, like a JVM spawn child
        time.sleep(5)
        os._exit(0)
    other = subprocess.Popen(["sleep", "5"])
    try:
        total, own, n = session.tree_mb(me)
        assert n == 2  # this process and `sleep`; the fork child is skipped
        assert own < total < own + 64
    finally:
        other.kill()
        other.wait()
        os.kill(pid, 9)
        os.waitpid(pid, 0)


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def test_jaccard_and_components_oracles():
    sets = {1: {"a", "b", "c"}, 2: {"a", "b", "d"}, 3: {"x"}, 4: {"x", "y"}}
    pairs = oracle.jaccard_pairs(sets, 2000, None)
    assert pairs == {(1, 2): 5000, (3, 4): 5000}
    assert oracle.components(pairs) == {1: 1, 2: 1, 3: 3, 4: 3}


def test_polygon_oracle_even_odd():
    square = [[(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0)]]
    lat = np.array([1.0, 3.0, 1.0])
    lon = np.array([1.0, 1.0, -1.0])
    assert oracle.in_polygon(square, lat, lon).tolist() == [True, False, False]
