"""Operator-level tests: hot-cell equi join, polygon PIP vs numpy oracle,
covering superset property, MinHash recall, checkpoint resume (t4),
streaming-vs-batch equivalence, multimodal determinism."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2cell_spark import kernels as K
from s2cell_spark.operators import containment as CJ
from s2cell_spark.operators import covering as COV
from s2cell_spark.sources.pages import load_pages, with_cell_id
from tests.conftest import SF_CORRECT, SF_SMOKE


@pytest.fixture(scope="module")
def pages(spark):
    return with_cell_id(load_pages(spark, SF_CORRECT)).cache()


def _haversine_deg_np(lat1, lon1, lat2, lon2):
    """numpy twin of ``knn.haversine_deg``, term for term: degrees in,
    degrees of arc out."""
    sp = np.sin(np.radians(lat2 - lat1) / 2.0)
    sl = np.sin(np.radians(lon2 - lon1) / 2.0)
    a = sp * sp + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * sl * sl
    return np.degrees(2.0 * np.arcsin(np.sqrt(a)))


def _regions():
    return {
        0: COV.latlng_rect_covering(39.7, 41.7, -75.0, -73.0, max_level=10, min_emit_level=6),
        1: COV.latlng_rect_covering(-10.0, 10.0, 0.0, 20.0, max_level=10, min_emit_level=6),
    }


def test_equi_join_hot_single_cell_keeps_every_row(spark):
    """All rows in ONE covering cell (the worst skew case): the equi join
    keeps every one of them."""
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(500),
            "url": [f"u{i}" for i in range(500)],
            "lat": np.full(500, 40.7128) + np.arange(500) * 1e-7,
            "lon": np.full(500, -74.006),
        }
    )
    df = spark.createDataFrame(pdf)
    from s2cell_spark import functions as S2F

    df = df.withColumn("cell_id", S2F.lat_lon_to_cell_id(F.col("lat"), F.col("lon"), 30))
    regions = {7: COV.latlng_rect_covering(40.0, 41.0, -75.0, -73.0, max_level=8)}
    assert CJ.containment_join_equi(df, spark, regions, level=8).count() == 500


def test_range_join_null_cell_keeps_big_leaf_exact(spark):
    """A null cell_id sharing an Arrow batch with a leaf ID above 2^53
    must not cost that leaf its low bits. The range join this once pinned
    is gone; the same input now goes through the equi join that replaced
    it: the inner join keeps the leaf's match and drops the null row; a
    LEFT join keeps the null row untagged."""
    leaf = 4611686018427400249  # odd leaf id, > 2^53
    df = spark.createDataFrame(
        [(1, leaf), (2, None)], "doc_id long, cell_id long"
    ).coalesce(1)
    regions = {9: np.array([leaf], dtype=np.int64).view(np.uint64)}
    inner = CJ.containment_join_equi(df, spark, regions, level=30)
    assert [(r["doc_id"], r["region_id"]) for r in inner.collect()] == [(1, 9)]
    left = CJ.containment_join_equi(df, spark, regions, level=30, how="left")
    assert sorted((r["doc_id"], r["region_id"]) for r in left.collect()) == [
        (1, 9), (2, None)
    ]


def test_covering_size_budget():
    """Pruning-quality regression gate: coverings must stay TIGHT, not
    just superset-correct. Two budgets per PIP box at the query's own
    (max_level=10, min_emit_level=6):

    * raw covering size (what broadcasts) <= 1.5x the measured round-2
      values (268..4984 cells);
    * expanded level-10 cell count <= 2.5x the box's ideal spherical
      cell count (measured ratios today: 0.85..1.62) — catches a coverer
      change that silently over-covers even if the raw count stays flat.
    """
    import math

    import __spark_entry__ as E

    budget = {0: 400, 1: 410, 2: 570, 3: 4500, 4: 7500, 5: 4700}
    total_l10 = 6 * 4**10
    for rid, a, b, c, d in E.PIP_BOXES:
        cov = COV.latlng_rect_covering(a, b, c, d, max_level=10, min_emit_level=6)
        assert cov.shape[0] <= budget[rid], (
            f"box {rid}: covering grew to {cov.shape[0]} cells (budget {budget[rid]})"
        )
        lvl = K.cell_id_to_level(cov).astype(int)
        exp10 = int((4 ** (10 - lvl)).sum())
        frac = (
            (math.sin(math.radians(b)) - math.sin(math.radians(a)))
            * math.radians(d - c)
            / (4 * math.pi)
        )
        ratio = exp10 / (frac * total_l10)
        assert ratio <= 2.5, f"box {rid}: covering covers {ratio:.2f}x the ideal area"


def test_polygon_covering_superset_and_tighter():
    """polygon_covering must (a) contain every interior point of random
    concave polygons incl. holes — the superset property PIP correctness
    rests on — and (b) cover less expanded area than the bbox covering
    for the driver's concave polygon (the tightness win it exists for)."""
    import __spark_entry__ as E
    from s2cell_spark.operators.covering import (
        _points_in_polygon,
        latlng_rect_covering,
        polygon_covering,
    )

    rng = np.random.default_rng(11)
    cases = [[np.asarray(r, dtype=float) for r in rings] for rings in E.PIP_POLYGONS.values()]
    for _ in range(4):  # random star-shaped concave polygons
        k = rng.integers(5, 10)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(3.0, 25.0, k)
        c_lat, c_lon = rng.uniform(-50, 50), rng.uniform(-120, 120)
        ring = np.stack([c_lat + rad * np.sin(ang), c_lon + rad * np.cos(ang)], axis=1)
        cases.append([ring])
    for rings in cases:
        cov = polygon_covering(rings, max_level=10)
        assert cov.size > 0
        vs = np.concatenate(rings)
        lat = rng.uniform(vs[:, 0].min(), vs[:, 0].max(), 50_000)
        lon = rng.uniform(vs[:, 1].min(), vs[:, 1].max(), 50_000)
        inside = _points_in_polygon(rings, lat, lon)
        leaf = K.lat_lon_to_cell_id(lat[inside], lon[inside], 30)
        order = np.argsort(K.cell_id_range_min(cov) ^ np.uint64(1 << 63), kind="stable")
        lo = np.sort(K.cell_id_range_min(cov) ^ np.uint64(1 << 63))
        hi = (K.cell_id_range_max(cov) ^ np.uint64(1 << 63))[order]
        ls = leaf ^ np.uint64(1 << 63)
        idx = np.searchsorted(lo, ls, side="right") - 1
        ok = (idx >= 0) & (ls <= hi[np.clip(idx, 0, len(hi) - 1)])
        assert ok.all(), "polygon covering missed interior points"

    def exp10(cov):
        lvl = K.cell_id_to_level(cov).astype(int)
        return int((4 ** (10 - lvl)).sum())

    concave = [np.asarray(r, dtype=float) for r in E.PIP_POLYGONS[0]]
    vs = np.concatenate(concave)
    bbox = (vs[:, 0].min(), vs[:, 0].max(), vs[:, 1].min(), vs[:, 1].max())
    assert exp10(polygon_covering(concave, max_level=10)) < 0.6 * exp10(
        latlng_rect_covering(*bbox, max_level=10)
    )


def test_covering_superset_random_rects():
    rng = np.random.default_rng(99)
    for _ in range(4):
        lat0 = rng.uniform(-80, 70)
        lat1 = lat0 + rng.uniform(0.5, 12)
        lon0 = rng.uniform(-170, 150)
        lon1 = lon0 + rng.uniform(0.5, 18)
        cov = COV.latlng_rect_covering(lat0, lat1, lon0, lon1, max_level=10)
        plat = rng.uniform(lat0, lat1, 5000)
        plon = rng.uniform(lon0, lon1, 5000)
        leaf = K.lat_lon_to_cell_id(plat, plon, 30)
        lo = np.sort(K.cell_id_range_min(cov) ^ np.uint64(1 << 63))
        hi = np.sort(K.cell_id_range_max(cov) ^ np.uint64(1 << 63))
        ls = leaf ^ np.uint64(1 << 63)
        idx = np.searchsorted(lo, ls, side="right") - 1
        ok = (idx >= 0) & (ls <= hi[np.clip(idx, 0, len(hi) - 1)])
        assert ok.all()


def test_coverers_return_pinned_cells():
    """The exact cells of all three coverers on the query fixtures, pinned
    as the sha256 of each covering's sorted uint64 bytes. The superset
    and tightness tests allow many outputs; this one allows exactly the
    current one, so a refactor of the BFS cannot move a single cell."""
    import hashlib

    import __spark_entry__ as E
    from s2cell_spark.operators.radius import suggest_cap_level

    def digest(covs) -> str:
        h = hashlib.sha256()
        for cov in covs:
            h.update(np.sort(cov).astype("<u8").tobytes())
        return h.hexdigest()

    rects = [
        COV.latlng_rect_covering(a, b, c, d, max_level=lvl, min_emit_level=m)
        for lvl, m in ((10, 6), (7, None))
        for _, a, b, c, d in E.PIP_BOXES
    ]
    polys = [
        COV.polygon_covering([np.asarray(r, dtype=float) for r in rings], max_level=10)
        for rings in [*E.PIP_POLYGONS.values(), *E._bulk_polygons().values()]
    ]
    lvl = suggest_cap_level(E.RADIUS_CIRCLES)
    caps = [
        COV.cap_covering(la, lo, r, max_level=L, min_emit_level=m)
        for L, m in ((lvl, max(0, lvl - 4)), (10, None))
        for la, lo, r in E.RADIUS_CIRCLES.values()
    ]
    assert digest(rects) == "b7fe3200998a0edf6c4be810630f29c28dcd2f02fb48fd20427c014739cf0e62"
    assert digest(polys) == "6ba60048f6bbfc92b3428262eec6f6788f856b6fa469e236f78d4073c7200035"
    assert digest(caps) == "72c657a61061faf5c2181fed427c1e2b6fcfacc4534ee31c5ff31c9e11d6a909"


def test_minhash_recall_and_precision(spark):
    """LSH recall vs exact shingle-Jaccard pairs at the query threshold:
    every reported pair must be exact-verified (precision 1.0 by
    construction); recall tolerance 0.8 at jacc>=0.5."""
    from s2cell_spark.operators.dedup import jaccard_pairs_exact, minhash_near_dup_pairs

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs_exact(docs, 5000).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dup_pairs(docs, threshold_bp=5000).collect()
    }
    assert got <= exact  # verified pairs can never be false positives
    if exact:
        assert len(got & exact) / len(exact) >= 0.8


def test_salted_equi_join_identical_to_plain(spark):
    """salted_equi_join must produce the multiset of rows of the plain
    join on a hot-key fixture — inner and left, any salt count."""
    from s2cell_spark.operators.skewjoin import salted_equi_join

    fact = [("hot", i) for i in range(2000)] + [(f"k{i % 13}", 10_000 + i) for i in range(300)]
    dim = [("hot", "HOT"), ("k1", "one"), ("k2", "two"), ("nomatch", "x")]
    fdf = spark.createDataFrame(fact, "key string, val long")
    ddf = spark.createDataFrame(dim, "key string, attr string")
    for how in ("inner", "left"):
        want = sorted(
            map(tuple, fdf.join(ddf, on="key", how=how).collect())
        )
        for s in (1, 8, 32):
            got = sorted(
                map(tuple, salted_equi_join(fdf, ddf, "key", num_salts=s, how=how).collect())
            )
            assert got == want, f"how={how} num_salts={s}"
    with pytest.raises(ValueError):
        salted_equi_join(fdf, ddf, "key", how="full")


def test_jaccard_df_cap_kills_hot_shingle_blowup(spark):
    """Pathological Zipf fixture: every doc shares one boilerplate
    sentence ('all rights reserved ...' style), plus unique content. The
    uncapped pair unfold is O(n_docs^2) on the hot shingles; with the DF
    cap the hot shingles are dropped BEFORE pairing, the internal pair
    stage stays linear, and the result equals a brute-force Jaccard over
    the capped shingle sets."""
    import itertools

    boiler = "all rights reserved contact us terms of service"
    n = 60
    rows = [(i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i} delta{i}") for i in range(n)]
    # two true near-dup docs sharing low-DF content
    rows += [(100, "the quick brown fox jumps over the lazy dog today"),
             (101, "the quick brown fox jumps over the lazy dog tonight")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from s2cell_spark.operators import dedup as D

    cap = 5
    got = {
        (r["doc_a"], r["doc_b"]): r["jacc_bp"]
        for r in D.jaccard_pairs_exact(docs, 1000, max_df=cap).collect()
    }

    # brute-force oracle over capped shingle sets
    def shingles(t):
        ws = [w for w in __import__("re").split("[^a-z0-9]+", t.lower()) if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {i: shingles(t) for i, t in rows}
    df_count: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df_count[sh] = df_count.get(sh, 0) + 1
    capped = {i: {sh for sh in s if df_count[sh] <= cap} for i, s in sets.items()}
    want = {}
    for a, b in itertools.combinations(sorted(capped), 2):
        sa, sb = capped[a], capped[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter == 0:
            continue
        bp = (10000 * inter) // (len(sa) + len(sb) - inter)
        if bp >= 1000:
            want[(a, b)] = bp
    assert got == want
    assert (100, 101) in got  # the true near-dup pair survives the cap

    # the linearity claim, measured: the internal pair stage emits ZERO
    # rows for the boilerplate shingles (DF = 60 > cap), so total unfolded
    # pairs collapse from O(n^2 * hot_shingles) to the few content pairs
    base = D.shingled_docs(docs, max_df=cap)
    dw = base.select("doc", F.size("ws").alias("sz"), F.explode("ws").alias("w"))
    per_shingle = dw.groupBy("w").count()
    assert per_shingle.agg(F.max("count")).collect()[0][0] <= cap


def test_checkpoint_resume_byte_identical(spark, tmp_path):
    """t4: kill-between-stages resume — second run reuses stage 1's
    snapshot and final output is byte-identical."""
    from s2cell_spark.plans.checkpoint import CheckpointedPipeline

    root = str(tmp_path / "ckpt")

    def run(fail_stage2: bool):
        pipe = CheckpointedPipeline(spark, root)
        pages_df = pipe.stage(
            "encode",
            lambda: with_cell_id(load_pages(spark, SF_SMOKE)).repartition(4, "doc_id"),
            sort_cols=("doc_id",),
        )
        if fail_stage2:
            raise RuntimeError("simulated failure between stages")
        agg = pipe.stage(
            "rollup",
            lambda: pipe.read("encode")
            .groupBy((F.col("doc_id") % 7).alias("k"))
            .agg(
                F.count("*").alias("n"),
                # xor-fold: order-insensitive, overflow-free digest of cell IDs
                F.sum(F.col("cell_id") % 1000003).alias("s"),
            ),
            inputs=("encode",),
        )
        return pipe, agg

    with pytest.raises(RuntimeError):
        run(fail_stage2=True)
    pipe, agg = run(fail_stage2=False)
    assert any(m.get("resumed") for m in pipe.metrics if m["stage"] == "encode")
    first = sorted(map(tuple, agg.collect()))
    # a third run resumes everything and reproduces identical bytes
    pipe2, agg2 = run(fail_stage2=False)
    assert sorted(map(tuple, agg2.collect())) == first
    assert all(m.get("resumed") for m in pipe2.metrics)


def test_streaming_matches_batch(spark, tmp_path):
    """Structured-Streaming per-cell counts == the batch groupBy on the
    same input (processed as one file-source micro-batch)."""
    from s2cell_spark import functions as S2F
    from s2cell_spark.streaming.ingest import streaming_cell_counts

    src = str(tmp_path / "stream_src")
    load_pages(spark, SF_SMOKE).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = streaming_cell_counts(stream, level=4, window="24 hours", watermark="48 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("cellcounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["cell_token"], r["n_pages"])
        for r in spark.sql("select cell_token, n_pages from cellcounts").collect()
    }
    batch = with_cell_id(load_pages(spark, SF_SMOKE))
    parent = S2F.cell_id_to_parent_cell_id(F.col("cell_id"), 4)
    want = {
        (r["t"], r["n"])
        for r in batch.groupBy(S2F.cell_id_to_token(parent).alias("t"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_containment_matches_batch(spark, tmp_path):
    """Stream-static containment join (streamed pages vs broadcast
    covering dim) == the batch containment join + count on the same
    input, per region."""
    import __spark_entry__ as E
    from s2cell_spark.operators.containment import (
        containment_join_equi,
        normalized_coverings_df,
    )
    from s2cell_spark.streaming.ingest import streaming_containment_counts

    src = str(tmp_path / "stream_src2")
    load_pages(spark, SF_SMOKE).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    cov = normalized_coverings_df(spark, E._box_regions(), 10)
    out = streaming_containment_counts(
        stream, cov, level=10, window="24 hours", watermark="48 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("contcounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["region_id"], r["n_pages"])
        for r in spark.sql("select region_id, n_pages from contcounts").collect()
    }
    batch = containment_join_equi(
        with_cell_id(load_pages(spark, SF_SMOKE)), spark, E._box_regions(), level=10
    )
    want = {
        (r["region_id"], r["n"])
        for r in batch.groupBy("region_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(want) > 0


def test_multimodal_features_deterministic(spark):
    from s2cell_spark.operators.multimodal import attach_fake_media, extract_features

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    media = attach_fake_media(docs)
    a = extract_features(media).orderBy("doc_id").collect()
    b = extract_features(media).orderBy("doc_id").collect()
    assert [r["feature"] for r in a] == [r["feature"] for r in b]
    assert all(r["decoded"] == "stub" for r in a)
    assert all(len(r["feature"]) == 16 for r in a)
    # frame sampling plan explodes video rows only
    from s2cell_spark.operators.multimodal import frame_sample_plan

    frames = frame_sample_plan(media, every_ms=10000)
    assert frames.count() > 0


def test_streaming_first_seen_dedups_across_batches(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: duplicates of a text_md5
    arriving in LATER micro-batches are suppressed by per-key state —
    each distinct md5 is emitted exactly once, with a doc from its group."""
    import glob
    import shutil

    from s2cell_spark.streaming.ingest import streaming_first_seen

    pages = load_pages(spark, SF_SMOKE).select("doc_id", "url", "text")
    src = str(tmp_path / "fs_src")
    # batch 1: docs 0..N/2 ; batch 2: docs N/4..N (overlap => cross-batch
    # duplicate text_md5s that MUST be suppressed)
    n = pages.count()
    pages.filter(F.col("doc_id") < n // 2).coalesce(1).write.mode("overwrite").parquet(src + "_a")
    pages.filter(F.col("doc_id") >= n // 4).coalesce(1).write.mode("overwrite").parquet(src + "_b")
    import os

    os.makedirs(src)
    shutil.copy(glob.glob(src + "_a/part-*.parquet")[0], src + "/batch_a.parquet")
    shutil.copy(glob.glob(src + "_b/part-*.parquet")[0], src + "/batch_b.parquet")

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = streaming_first_seen(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("firstseen")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select text_md5, doc_id from firstseen").collect()

    whole = spark.read.parquet(src).select(
        F.md5("text").alias("text_md5"), "doc_id"
    )
    groups = {}
    for r in whole.collect():
        groups.setdefault(r["text_md5"], set()).add(r["doc_id"])
    # exactly one emission per distinct md5 (state suppressed re-arrivals)
    assert sorted(r["text_md5"] for r in got) == sorted(groups)
    # and the keeper belongs to that md5's group
    assert all(r["doc_id"] in groups[r["text_md5"]] for r in got)
    # the keeper is the lowest doc_id of its md5 within the FIRST batch
    # that carries it (exact_dup_groups' keeper rule), which a native
    # dropDuplicates, keeping an arbitrary row, would not guarantee
    keeper = {}
    for name in ("batch_a", "batch_b"):
        batch = spark.read.parquet(f"{src}/{name}.parquet").groupBy(
            F.md5("text").alias("text_md5")
        ).agg(F.min("doc_id").alias("doc_id"))
        for r in batch.collect():
            keeper.setdefault(r["text_md5"], r["doc_id"])
    assert {r["text_md5"]: r["doc_id"] for r in got} == keeper
    assert len(got) < whole.count()  # the overlap really contained dups


def test_empty_covering_joins_nothing(spark, pages):
    """An empty region dict is a valid covering: it normalizes to an empty
    (region_id, cov_cell) bigint frame, an inner containment join against
    it returns no rows, and a LEFT join keeps every page untagged."""
    cov = CJ.normalized_coverings_df(spark, {}, 10)
    assert cov.schema.simpleString() == "struct<region_id:bigint,cov_cell:bigint>"
    assert cov.count() == 0
    assert CJ.containment_join_equi(pages, spark, {}, 10).count() == 0
    left = CJ.containment_join_equi(pages, spark, {}, 10, how="left")
    assert left.count() == pages.count() > 0
    assert left.filter(F.col("region_id").isNotNull()).count() == 0


def test_native_covering_expansion_matches_numpy(spark):
    """normalized_coverings_df's explode(sequence(...)) expansion must
    equal the numpy covering_to_level expansion cell-for-cell, with no
    duplicate row — including negative-long (face >= 4) coverings and a
    covering deeper than the target level, whose cells are lifted to
    their (shared) level-8 ancestors."""
    import numpy as np

    from s2cell_spark.operators import covering as COV
    from s2cell_spark.operators.containment import normalized_coverings_df

    regions = {
        0: COV.latlng_rect_covering(10.0, 25.0, 30.0, 55.0, max_level=8),
        1: COV.latlng_rect_covering(-40.0, -20.0, 110.0, 155.0, max_level=8),  # faces 4/5
        2: COV.latlng_rect_covering(40.3, 41.1, -74.6, -73.2, max_level=10),
    }
    assert (K.cell_id_to_level(regions[2]) > 8).any()
    native = sorted(
        (r["region_id"], r["cov_cell"])
        for r in normalized_coverings_df(spark, regions, 8).collect()
    )
    want = sorted(
        (rid, int(np.int64(np.uint64(c))))
        for rid, cells in regions.items()
        for c in COV.covering_to_level(cells, 8)
    )
    assert native == want and len(want) > 100


def test_iceberg_capability_gate_and_fallback(spark, tmp_path):
    """No Iceberg jars in this container: the capability probe must say
    so for any catalog name (configured or not), and a pipeline asked for
    an Iceberg catalog must degrade to the parquet+manifest path and
    still run end-to-end."""
    from s2cell_spark.plans.checkpoint import CheckpointedPipeline, iceberg_available

    assert iceberg_available(spark, "nosuchcatalog") is False
    # configured catalog but jar absent -> still unavailable
    spark.conf.set("spark.sql.catalog.fakeberg", "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert iceberg_available(spark, "fakeberg") is False
        pipe = CheckpointedPipeline(spark, str(tmp_path / "ck"), catalog="fakeberg")
        assert pipe.use_iceberg is False
        out = pipe.stage("s1", lambda: spark.range(10).withColumnRenamed("id", "v"))
        assert out.count() == 10
        assert (tmp_path / "ck" / "s1" / "_LINEAGE.json").exists()
        # resume path reads the parquet snapshot back
        out2 = pipe.stage("s1", lambda: spark.range(10).withColumnRenamed("id", "v"))
        assert out2.count() == 10
        assert pipe.metrics[-1]["resumed"] is True
    finally:
        spark.conf.unset("spark.sql.catalog.fakeberg")


def test_checkpoint_recomputes_on_changed_plan(spark, tmp_path):
    """A stage whose build logic changed must NOT resume the stale
    snapshot (plan-fingerprint gate in the lineage manifest)."""
    from s2cell_spark.plans.checkpoint import CheckpointedPipeline

    root = str(tmp_path / "fp")
    docs = spark.range(100).withColumnRenamed("id", "doc_id")
    p1 = CheckpointedPipeline(spark, root)
    p1.stage("s", lambda: docs.filter(F.col("doc_id") % 2 == 0))
    p2 = CheckpointedPipeline(spark, root)
    out_same = p2.stage("s", lambda: docs.filter(F.col("doc_id") % 2 == 0))
    assert p2.metrics[0]["resumed"] is True
    assert out_same.count() == 50  # materialize before the overwrite below
    p3 = CheckpointedPipeline(spark, root)
    out_changed = p3.stage("s", lambda: docs.filter(F.col("doc_id") % 2 == 1))
    assert p3.metrics[0].get("resumed") is False
    assert out_changed.count() == 50 and {r["doc_id"] % 2 for r in out_changed.collect()} == {1}


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Watermark semantics: an event older than (max seen ts - watermark)
    arriving in a LATER micro-batch must not re-open its closed window in
    append mode. Two separate availableNow runs share one checkpoint, so
    this also exercises state/watermark recovery from the commit log."""
    import glob
    import os
    import shutil
    from datetime import datetime

    from s2cell_spark.streaming.ingest import streaming_cell_counts

    def mk(rows):
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, lat double, lon double"
        )

    t0 = datetime(2024, 1, 1, 0, 30)
    late = datetime(2024, 1, 1, 0, 15)   # same 00:00 window as t0
    ahead = datetime(2024, 1, 3, 0, 0)   # advances the watermark past t0
    b1 = mk([("a", t0, 10.0, 10.0), ("b", t0, 10.0, 10.0), ("c", ahead, 10.0, 10.0)])
    b2 = mk([("d", late, 10.0, 10.0)])   # late by ~2 days > 2h watermark

    src = str(tmp_path / "wm_src")
    ckpt = str(tmp_path / "wm_ckpt")
    os.makedirs(src)

    def drop_file(tag, df):
        tmp = src + "_" + tag
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(tmp + "/part-*.parquet")[0], f"{src}/batch_{tag}.parquet")

    sink = str(tmp_path / "wm_sink")

    def run_once():
        stream = spark.readStream.schema(b1.schema).parquet(src)
        out = streaming_cell_counts(stream, level=4, window="1 hour", watermark="2 hours")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drop_file("a", b1)
    run_once()   # watermark commits at ~Jan 2 22:00; 00:00 window emits
    drop_file("b", b2)
    run_once()   # late row is below the recovered watermark -> dropped

    rows = spark.read.parquet(sink).collect()
    counts = {}
    for r in rows:
        counts[r["window_start"]] = counts.get(r["window_start"], 0) + r["n_pages"]
    # the 00:00 window closed with 2 on-time pages and the late row neither
    # re-opened it nor produced a second emission
    assert counts.get(datetime(2024, 1, 1, 0, 0)) == 2


def test_neighborhood_safe_radius_empirical():
    """The 3x3-neighborhood guarantee behind knn_join's `truncated` flag,
    checked against geometry rather than trusted: for random point pairs
    (including cube-corner hot spots) with haversine distance <= the
    claimed safe radius, the second point's cell MUST lie in the first
    point's 3x3 neighborhood at that level."""
    from s2cell_spark.operators.knn import neighborhood_safe_radius_deg

    rng = np.random.default_rng(13)
    for level in (2, 4, 6, 8):
        r_deg = neighborhood_safe_radius_deg(level)
        n = 20000
        lat = rng.uniform(-88, 88, n)
        lon = rng.uniform(-180, 180, n)
        # sprinkle exact cube-corner neighborhoods (worst-case cell shapes)
        corners_lat = np.array([45.0, 45.0, -45.0, -45.0, 35.26, -35.26] * 50)
        corners_lon = np.array([45.0, -135.0, 45.0, 135.0, 45.0, -45.0] * 50)
        lat = np.concatenate([lat, corners_lat + rng.uniform(-r_deg, r_deg, len(corners_lat))])
        lon = np.concatenate([lon, corners_lon + rng.uniform(-r_deg, r_deg, len(corners_lon))])
        # random offsets at up to exactly the safe radius (great-circle)
        theta = rng.uniform(0, 2 * np.pi, len(lat))
        frac = np.sqrt(rng.uniform(0, 1, len(lat)))
        dlat = frac * r_deg * np.sin(theta)
        dlon = frac * r_deg * np.cos(theta) / np.maximum(
            np.cos(np.radians(lat)), 1e-9
        )
        lat2 = lat + dlat
        lon2 = ((lon + dlon + 180.0) % 360.0) - 180.0
        ok_dom = (lat2 >= -90) & (lat2 <= 90)
        lat, lon, lat2, lon2 = lat[ok_dom], lon[ok_dom], lat2[ok_dom], lon2[ok_dom]
        # keep only pairs whose true haversine distance is within the bound
        m = _haversine_deg_np(lat, lon, lat2, lon2) <= r_deg
        lat, lon, lat2, lon2 = lat[m], lon[m], lat2[m], lon2[m]
        c1 = K.lat_lon_to_cell_id(lat, lon, level)
        c2 = K.lat_lon_to_cell_id(lat2, lon2, level)
        grid, valid, _ = K.cell_id_to_neighbor_cell_ids_grid(c1)
        in_hood = c2 == c1
        for col in range(8):
            in_hood |= valid[:, col] & (grid[:, col] == c2)
        assert in_hood.all(), (
            level,
            int((~in_hood).sum()),
            lat[~in_hood][:3],
            lon[~in_hood][:3],
        )


def test_level_for_radius_picks_deepest_safe_level():
    from s2cell_spark.operators.knn import (
        level_for_radius,
        neighborhood_safe_radius_deg,
    )

    for r in (90.0, 10.0, 1.0, 0.1, 0.003, 1e-6, 1e-12):
        lvl = level_for_radius(r)
        if neighborhood_safe_radius_deg(0) >= r:
            assert neighborhood_safe_radius_deg(lvl) >= r
        else:
            # radius beyond any level's guarantee: clamp to 0 (use knn)
            assert lvl == 0
        if lvl < 30:
            assert neighborhood_safe_radius_deg(lvl + 1) < r


def test_knn_join_truncated_flag(spark):
    """truncated=false must CERTIFY global-exact top-k (checked against
    the exact knn operator); rank-k beyond the safe radius or an
    under-filled neighborhood must flag true."""
    from s2cell_spark.operators.knn import (
        knn,
        knn_join,
        neighborhood_safe_radius_deg,
    )

    level = 6
    r_safe = neighborhood_safe_radius_deg(level)
    rows = []
    # query 1: three points well inside the safe radius -> exact, untruncated
    rows += [(10, 40.0001, 7.0001), (11, 40.0002, 7.0002), (12, 40.0003, 7.0004)]
    # query 2: third-nearest candidate sits inside the 3x3 hood but beyond
    # the safe radius -> its rank-3 distance exceeds the bound -> truncated
    rows += [(20, 10.0, 50.0 + 0.01), (21, 10.0, 50.0 + 0.02),
             (22, 10.0, 50.0 + 1.45 * r_safe)]
    # query 3: only two candidates exist in the whole hood (k=3) -> truncated
    rows += [(30, -30.0, -120.0 + 0.001), (31, -30.0, -120.0 + 0.002)]
    pages = with_cell_id(
        spark.createDataFrame(rows, "doc_id long, lat double, lon double")
        .withColumn("url", F.concat(F.lit("u"), F.col("doc_id")))
    )
    qdf = spark.createDataFrame(
        [(1, 40.0001, 7.0001), (2, 10.0, 50.0), (3, -30.0, -120.0)],
        "query_id long, q_lat double, q_lon double",
    )
    out = knn_join(pages, qdf, k=3, level=level).collect()
    flags = {}
    for r in out:
        flags.setdefault(r["query_id"], set()).add(r["truncated"])
    assert flags[1] == {False}
    assert flags[2] == {True}
    assert flags[3] == {True}
    # certification: the untruncated query's rows equal exact kNN
    exact = {
        (r["query_id"], r["doc_id"], r["rank"])
        for r in knn(pages, spark, [(1, 40.0001, 7.0001)], k=3, level=level).collect()
    }
    got = {(r["query_id"], r["doc_id"], r["rank"]) for r in out if r["query_id"] == 1}
    assert got == exact


def test_knn_matches_numpy_bruteforce_topk(spark, pages):
    """Exact kNN vs a numpy brute force over every page: top-k on the
    (1e-7-deg distance key, doc_id) order, for random queries plus pole,
    antimeridian and cube-corner queries, one batch per k — and a 3-page
    frame at k=5, where every query gets every page, ranked."""
    from s2cell_spark.operators.knn import knn

    rng = np.random.default_rng(8)
    corner_lat = float(np.degrees(np.arctan(1.0 / np.sqrt(2.0))))  # 35.264..
    pts = [(float(a), float(o)) for a, o in zip(
        np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 40))), rng.uniform(-180.0, 180.0, 40)
    )]
    pts += [(89.99, 0.0), (-89.99, 120.0), (10.0, 179.999), (-20.0, -179.999)]
    pts += [(sa * corner_lat, so) for sa in (1, -1) for so in (45.0, 135.0, -45.0, -135.0)]
    queries = [(i, a, o) for i, (a, o) in enumerate(pts)]
    few = with_cell_id(spark.createDataFrame(
        [(7, 10.0, 10.0), (3, -30.0, 50.0), (5, 60.0, -120.0)],
        "doc_id long, lat double, lon double",
    ))

    for frame, k in ((pages, 1), (pages, 20), (few, 5)):
        pdf = frame.select("doc_id", "lat", "lon").toPandas()
        ids, la, lo = (pdf[c].to_numpy() for c in ("doc_id", "lat", "lon"))
        got = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["dist_deg"])
            for r in knn(frame, spark, queries, k=k).collect()
        }
        want = {}
        for qid, qlat, qlon in queries:
            dist = _haversine_deg_np(qlat, qlon, la, lo)
            key = np.floor(dist * 1e7 + 0.5).astype(np.int64)
            for rank, i in enumerate(np.lexsort((ids, key))[:k], start=1):
                want[(qid, rank)] = (int(ids[i]), float(dist[i]))
        assert got.keys() == want.keys(), f"k={k}"
        for key_, (doc, d) in want.items():
            assert got[key_][0] == doc, (k, key_, got[key_], doc, d)
            assert abs(got[key_][1] - d) <= 1e-9, (k, key_, got[key_], d)


def test_empty_batches_return_empty_frames(spark):
    """No circles and no queries are legal batches: each returns an empty
    frame with its usual columns."""
    from s2cell_spark.operators.knn import knn
    from s2cell_spark.operators.radius import within_radius_join

    pages = with_cell_id(load_pages(spark, SF_SMOKE))
    within = within_radius_join(pages, spark, {})
    assert within.schema == within_radius_join(pages, spark, {1: (0.0, 0.0, 1.0)}).schema
    assert within.collect() == []
    near = knn(pages, spark, [], k=3)
    assert near.columns == ["query_id", "doc_id", "dist_deg", "rank"]
    assert near.collect() == []


def test_knn_rejects_duplicate_query_ids(spark):
    """A query id keys its search radius and its result rows, so a
    repeated id would keep only its last point and repeat that point's
    rows once per duplicate. knn raises ValueError naming every repeated
    id, before it caches the narrow page projection."""
    from pyspark.storagelevel import StorageLevel

    from s2cell_spark.operators.knn import knn

    pages = with_cell_id(load_pages(spark, SF_SMOKE))
    queries = [(0, 40.7, -74.0), (0, 51.5, -0.1), (4, 0.0, 0.0), (9, 1.0, 1.0), (9, 2.0, 2.0)]
    with pytest.raises(ValueError, match=r"duplicate query ids \[0, 9\]"):
        knn(pages, spark, queries, k=3, level=6)
    narrow = pages.select("doc_id", "lat", "lon", "cell_id")
    assert narrow.storageLevel == StorageLevel.NONE


def test_knn_verify_covering_budget_across_radii():
    """kNN's coverings must stay broadcast-small for EVERY search radius
    (VERDICT r2 #8). Each kNN round is the within-radius join, so what it
    broadcasts is the cap covering at :func:`suggest_cap_level` (or a
    coarser level), normalized to that one level: sweep radii from ~1 cm
    to the whole globe — at assorted latitudes including near-pole caps
    that wrap all longitudes — and assert a hard per-query covering-cell
    budget."""
    from s2cell_spark.operators.radius import suggest_cap_level

    budget = 600  # cells per query; broadcast cost ~ 16 B/cell
    for qlat in (0.0, 40.0, -67.0, 88.0, -89.5):
        for r in (1e-7, 1e-5, 1e-3, 0.05, 0.8, 5.0, 30.0, 90.0, 180.0):
            lvl = suggest_cap_level({0: (qlat, 0.0, r)})
            cov = COV.cap_covering(qlat, 0.0, r, max_level=lvl, min_emit_level=max(0, lvl - 4))
            n = COV.covering_to_level(cov, lvl).shape[0]
            assert 0 < n <= budget, f"qlat={qlat} r={r}: {n} cells at level {lvl}"


def test_iceberg_true_branch_drives_writeTo_plan(spark, tmp_path, monkeypatch):
    """VERDICT r2 #6: the container has no Iceberg jar, so the probe's
    True branch never executes here. Drive it anyway through PLAN
    construction: force the capability probe true, intercept
    DataFrame.writeTo / spark.read.table with recorders, and assert the
    pipeline routes a stage through createOrReplace on the catalog table
    (namespace DDL included) while still writing the JSON lineage
    manifest. No Iceberg execution happens — only the code path."""
    import json

    from s2cell_spark.plans import checkpoint as CK

    monkeypatch.setattr(CK, "iceberg_available", lambda s, c: True)
    calls = {"writeTo": [], "using": [], "created": 0, "read_table": [], "sql": []}
    built = spark.range(7).withColumnRenamed("id", "doc_id")

    class W2:
        def __init__(self, table):
            self.table = table

        def using(self, fmt):
            calls["using"].append(fmt)
            return self

        def createOrReplace(self):
            calls["created"] += 1

    def fake_write_to(df, table):
        calls["writeTo"].append(table)
        return W2(table)

    # patch the CONCRETE DataFrame type (pyspark.sql.DataFrame is an
    # abstract base in Spark 4; the classic subclass overrides writeTo)
    monkeypatch.setattr(type(built), "writeTo", fake_write_to, raising=True)

    class ReaderProxy:
        def table(self, name):
            calls["read_table"].append(name)
            return built

        def __getattr__(self, n):
            return getattr(spark.read, n)

    class SparkProxy:
        def sql(self, q, *a, **k):
            calls["sql"].append(q)
            if q.startswith("CREATE NAMESPACE"):
                return None
            return spark.sql(q, *a, **k)

        @property
        def read(self):
            return ReaderProxy()

        def __getattr__(self, n):
            return getattr(spark, n)

    pipe = CK.CheckpointedPipeline(
        SparkProxy(), str(tmp_path), catalog="icecat", namespace="ns1"
    )
    assert pipe.use_iceberg
    assert any(s.startswith("CREATE NAMESPACE IF NOT EXISTS icecat.ns1") for s in calls["sql"])
    out = pipe.stage("stage1", lambda: built)
    assert calls["writeTo"] == ["icecat.ns1.stage1"]
    assert calls["using"] == ["iceberg"]
    assert calls["created"] == 1
    assert calls["read_table"] == ["icecat.ns1.stage1"]
    assert out.count() == 7
    manifest = json.loads((tmp_path / "stage1" / "_LINEAGE.json").read_text())
    assert manifest["row_count"] == 7 and manifest["stage"] == "stage1"
    # resume: is_complete reads the catalog table, not parquet
    assert pipe.is_complete("stage1", manifest["plan_fingerprint"])
    assert calls["read_table"][-1] == "icecat.ns1.stage1"


def test_asof_join_semantics_and_tolerance(spark):
    """Focused unit semantics the oracle query doesn't isolate: unmatched
    left rows keep nulls, an exactly-simultaneous right row IS matched
    (at-or-before), and tolerance_ms nulls stale matches while keeping
    the left row."""
    from datetime import datetime

    from s2cell_spark.operators.asof import asof_join

    L = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 1, 1, 10, 0, 0)),
            (2, 10, datetime(2024, 1, 1, 12, 0, 0)),
            (3, 20, datetime(2024, 1, 1, 9, 0, 0)),   # before any right row
            (4, 30, datetime(2024, 1, 1, 9, 30, 0)),  # exact tie
        ],
        "event_id long, user_id long, ts timestamp",
    )
    R = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 9, 55, 0), 100),
            (10, datetime(2024, 1, 1, 10, 30, 0), 101),
            (20, datetime(2024, 1, 1, 11, 0, 0), 200),
            (30, datetime(2024, 1, 1, 9, 30, 0), 300),
        ],
        "user_id long, ts timestamp, snap long",
    )
    got = {
        r["event_id"]: (r["r_snap"], r["r_ts"])
        for r in asof_join(L, R, on="user_id", ts_col="ts").collect()
    }
    assert got[1][0] == 100            # latest at-or-before 10:00
    assert got[2][0] == 101            # 10:30 snap, not 9:55
    assert got[3] == (None, None)      # nothing at-or-before
    assert got[4][0] == 300            # simultaneous row matches

    tol = {
        r["event_id"]: r["r_snap"]
        for r in asof_join(L, R, on="user_id", ts_col="ts", tolerance_ms=10 * 60 * 1000).collect()
    }
    assert tol[1] == 100               # 5 min old: fresh
    assert tol[2] is None              # 90 min old: stale -> nulled
    assert tol[4] == 300               # 0 old: fresh
    # left rows are never dropped by tolerance
    assert set(tol) == {1, 2, 3, 4}


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Native session_window on a watermarked stream == the same
    user_sessions in batch, for every session the watermark has closed
    (each emitted once, in append mode): feed events in two
    micro-batches (second batch re-opens one user's session and pushes
    the watermark far enough to close everything earlier)."""
    from datetime import datetime, timedelta

    from s2cell_spark.streaming.sessionize import user_sessions

    t0 = datetime(2024, 3, 1, 0, 0, 0)
    m = lambda k: t0 + timedelta(minutes=k)  # noqa: E731
    b1 = [
        (1, m(0)), (1, m(10)), (1, m(20)),       # user 1, session A
        (2, m(5)),                                # user 2, lone event
        (1, m(120)), (1, m(125)),                 # user 1, session B
    ]
    b2 = [
        (1, m(126)),                              # extends session B
        (2, m(200)),                              # user 2, session 2
        (3, m(60 * 24 * 30)),                     # watermark pusher (user 3)
    ]
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp"

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src / "*"))
        out = user_sessions(stream.withWatermark("ts", "0 seconds"), gap="30 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drop("b1", b1)
    run_once()
    drop("b2", b2)
    run_once()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(sink).collect()
    }
    all_events = spark.createDataFrame(b1 + b2, schema)
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in user_sessions(all_events, gap="30 minutes").collect()
        if r["user_id"] != 3  # the pusher's own session never closes
    }
    assert got == batch and len(batch) >= 4


def test_asof_join_matches_pandas_merge_asof_randomized(spark):
    """Second independent reference for the as-of join (beyond the DuckDB
    ASOF oracle): pandas.merge_asof with direction='backward' on 300
    random rows x 3 seeds, including keys with no right rows, duplicate
    left timestamps, and left rows before any right row."""
    rng = np.random.default_rng(21)
    for _ in range(3):
        nl, nr = 150, 80
        base = pd.Timestamp("2024-06-01")
        lpdf = pd.DataFrame(
            {
                "event_id": np.arange(nl, dtype=np.int64),
                "k": rng.integers(0, 12, nl),
                "ts": base + pd.to_timedelta(rng.integers(0, 86400, nl), unit="s"),
            }
        )
        rpdf = pd.DataFrame(
            {
                # keys 9-11 never appear on the right side
                "k": rng.integers(0, 9, nr),
                "ts": base + pd.to_timedelta(rng.integers(0, 86400, nr), unit="s"),
                "snap": np.arange(nr, dtype=np.int64) * 10,
            }
        ).drop_duplicates(["k", "ts"])
        want = pd.merge_asof(
            lpdf.sort_values("ts"),
            rpdf.sort_values("ts").rename(columns={"ts": "r_ts", "snap": "r_snap"}),
            left_on="ts",
            right_on="r_ts",
            left_by="k",
            right_by="k",
            direction="backward",
        )
        from s2cell_spark.operators.asof import asof_join

        L = spark.createDataFrame(lpdf, "event_id long, k long, ts timestamp")
        R = spark.createDataFrame(rpdf, "k long, ts timestamp, snap long")
        got = {
            r["event_id"]: (r["r_snap"], r["r_ts"])
            for r in asof_join(L, R, on="k", ts_col="ts").collect()
        }
        for _, w in want.iterrows():
            g_snap, g_ts = got[w["event_id"]]
            w_snap = None if pd.isna(w["r_snap"]) else int(w["r_snap"])
            w_ts = None if pd.isna(w["r_ts"]) else w["r_ts"].to_pydatetime()
            assert g_snap == w_snap and g_ts == w_ts, (w["event_id"], g_snap, w_snap)


def test_cap_covering_superset_and_bounded():
    """Every point within `radius` of the center lands in a covering cell
    (the correctness-critical superset property), across mid-lat, equator,
    antimeridian, and both polar caps; covering size stays boundary-
    dominated (~8x per +3 levels), not area-dominated."""
    rng = np.random.default_rng(7)
    caps = [
        (40.75, -74.0, 3.0),
        (0.0, 179.9, 5.0),      # antimeridian-straddling
        (-85.0, 100.0, 12.0),   # south-polar (cap contains the pole)
        (89.5, 0.0, 2.0),       # north-polar
        (-33.87, 18.42, 8.0),
        (10.0, -180.0, 1.0),
    ]
    for qlat, qlon, r in caps:
        cov = COV.cap_covering(qlat, qlon, r, max_level=10)
        assert 0 < cov.shape[0] <= 4000, (qlat, qlon, r, cov.shape[0])
        # sample points uniformly inside the cap via the spherical
        # destination formula (bearing t, arc distance d <= r)
        n = 4000
        t = rng.uniform(0.0, 2.0 * np.pi, n)
        d = np.sqrt(rng.uniform(0.0, 1.0, n)) * r
        phi1, lam1, delta = np.radians(qlat), np.radians(qlon), np.radians(d)
        phi2 = np.arcsin(
            np.sin(phi1) * np.cos(delta) + np.cos(phi1) * np.sin(delta) * np.cos(t)
        )
        lam2 = lam1 + np.arctan2(
            np.sin(t) * np.sin(delta) * np.cos(phi1),
            np.cos(delta) - np.sin(phi1) * np.sin(phi2),
        )
        lat = np.degrees(phi2)
        lon = (np.degrees(lam2) + 540.0) % 360.0 - 180.0
        leaf = K.lat_lon_to_cell_id(lat, lon, 30)
        # covering cells are disjoint -> predecessor-interval stab suffices
        lo = (K.cell_id_range_min(cov) ^ np.uint64(1 << 63)).view(np.int64)
        hi = (K.cell_id_range_max(cov) ^ np.uint64(1 << 63)).view(np.int64)
        order = np.argsort(lo)
        lo, hi = lo[order], hi[order]
        s = (leaf ^ np.uint64(1 << 63)).view(np.int64)
        pos = np.searchsorted(lo, s, side="right") - 1
        ok = (pos >= 0) & (s <= hi[np.clip(pos, 0, None)])
        assert ok.all(), (qlat, qlon, r, int((~ok).sum()))


def test_within_radius_join_matches_bruteforce(spark):
    """Engine within_radius_join vs a driver-side numpy brute force over
    the full pages x circles product at sf0.001, on the same fixed-point
    boundary rule."""
    from s2cell_spark.operators.knn import haversine_deg
    from s2cell_spark.operators.radius import radius_fp, within_radius_join

    circles = {0: (40.75, -74.0, 4.0), 1: (-85.0, 100.0, 15.0), 2: (0.0, 179.5, 6.0)}
    pages = with_cell_id(load_pages(spark, SF_SMOKE))
    got = {
        (r["circle_id"], r["doc_id"], r["dist_fp"])
        for r in within_radius_join(pages, spark, circles).collect()
    }
    pdf = pages.select("doc_id", "lat", "lon").toPandas()
    want = set()
    for cid, (qlat, qlon, r) in circles.items():
        dist = _haversine_deg_np(qlat, qlon, pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
        fp = np.floor(dist * 1e7 + 0.5).astype(np.int64)
        m = fp <= radius_fp(r)
        want |= {
            (cid, int(d), int(f))
            for d, f in zip(pdf["doc_id"].to_numpy()[m], fp[m])
        }
    assert got == want and len(want) > 0


def test_bloom_pruned_join_identical_to_plain_join_and_actually_prunes(spark):
    """Row identity with the plain join (no false negatives by
    construction — build and probe share the same native hash exprs), and
    the probe measurably prunes non-matching fact rows before the
    shuffle (selective dim: 40 of 400 keys)."""
    from s2cell_spark.plans.bloom import bloom_pruned_join, build_key_bloom

    fact = spark.range(0, 4000).select(
        (F.col("id") % 400).alias("k"), F.col("id").alias("payload")
    )
    dim = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("attr")
    )
    got = {
        (r["k"], r["payload"], r["attr"])
        for r in bloom_pruned_join(fact, dim, on="k").collect()
    }
    want = {
        (r["k"], r["payload"], r["attr"]) for r in fact.join(dim, on="k").collect()
    }
    assert got == want and len(want) == 400

    # pruning: with m=2^20 bits for 40 keys the FP rate is ~0, so the
    # survivor count should be (almost exactly) the 400 true matches
    words = build_key_bloom(dim, "k")
    assert int(np.unpackbits(words.view(np.uint8)).sum()) <= 40 * 5
    survivors = bloom_pruned_join(fact, dim, on="k").count()
    assert survivors == 400


def test_hll_rollup_partition_invariant_and_matches_direct_sketch(spark):
    """The scale contract of the sketch rollup: (a) estimates are
    IDENTICAL under arbitrary repartitioning (union is register-wise max
    — commutative/associative), so results don't depend on cluster size;
    (b) unioning level-8 sketches up to level 4 estimates the same as
    sketching level 4 directly (lossless mergeability)."""
    from s2cell_spark.operators.tiling import cell_distinct_urls_hll

    pages = with_cell_id(load_pages(spark, SF_CORRECT))
    a = {
        r["cell_token"]: r["approx_distinct"]
        for r in cell_distinct_urls_hll(pages, 8, 4).collect()
    }
    b = {
        r["cell_token"]: r["approx_distinct"]
        for r in cell_distinct_urls_hll(pages.repartition(17), 8, 4).collect()
    }
    assert a == b and len(a) > 50
    direct = {
        r["cell_token"]: r["approx_distinct"]
        for r in cell_distinct_urls_hll(pages, 4, 4).collect()
    }
    assert a == direct


def test_interval_join_matches_bruteforce_with_keys_and_bounds(spark):
    """interval_join vs a pandas brute force: keyed + keyless, closed
    bounds, intervals shorter/longer than the bucket, bucket-edge
    alignment, and a point exactly on start and on end."""
    from s2cell_spark.operators.intervaljoin import interval_join

    rng = np.random.default_rng(5)
    base = pd.Timestamp("2024-02-01")
    n_p, n_i = 400, 60
    ppdf = pd.DataFrame(
        {
            "pid": np.arange(n_p),
            "k": rng.integers(0, 4, n_p),
            "ts": base + pd.to_timedelta(rng.integers(0, 14 * 86400, n_p), unit="s"),
        }
    )
    start = base + pd.to_timedelta(rng.integers(0, 14 * 86400, n_i), unit="s")
    ipdf = pd.DataFrame(
        {
            "iid": np.arange(n_i),
            "k": rng.integers(0, 4, n_i),
            "s": start,
            "e": start + pd.to_timedelta(rng.integers(0, 3 * 86400, n_i), unit="s"),
        }
    )
    # exact boundary hits: a point at one interval's start and another's end
    ppdf.loc[0, ["k", "ts"]] = [ipdf.loc[0, "k"], ipdf.loc[0, "s"]]
    ppdf.loc[1, ["k", "ts"]] = [ipdf.loc[1, "k"], ipdf.loc[1, "e"]]

    P = spark.createDataFrame(ppdf, "pid long, k long, ts timestamp")
    I = spark.createDataFrame(ipdf, "iid long, k long, s timestamp, e timestamp")
    for by in (None, ["k"]):
        got = {
            (r["pid"], r["iid"])
            for r in interval_join(P, I, "ts", "s", "e", bucket_seconds=86400, by=by).collect()
        }
        m = ppdf.merge(ipdf, on="k" if by else None, how="cross" if not by else "inner")
        m = m[(m["ts"] >= m["s"]) & (m["ts"] <= m["e"])]
        want = set(zip(m["pid"], m["iid"]))
        assert got == want and len(want) > 50, by


def test_cell_union_normalize_properties(spark):
    """Normalization invariants on randomized redundant inputs: exact
    leaf-union preservation, pairwise disjointness, minimality (no
    complete 4-sibling quad survives), and idempotence."""
    from s2cell_spark.operators.cellunion import normalize_cell_union

    rng = np.random.default_rng(3)

    def leaf_intervals(ids):
        lsb = ids & (~ids + np.uint64(1))
        lo = ((ids - lsb + np.uint64(1)) >> np.uint64(1)).astype(np.uint64)
        return np.stack([lo, lo + lsb], axis=1).astype(np.uint64)

    def merged(ids):
        iv = leaf_intervals(ids)
        iv = iv[np.argsort(iv[:, 0], kind="stable")]
        out = []
        for lo, hi in iv:
            if out and lo <= out[-1][1]:
                out[-1][1] = max(out[-1][1], hi)
            else:
                out.append([lo, hi])
        return [(int(a), int(b)) for a, b in out]

    for seed in range(3):
        r = np.random.default_rng(seed)
        lat0, lon0 = r.uniform(-60, 50), r.uniform(-150, 150)
        base = COV.latlng_rect_covering(
            lat0, lat0 + r.uniform(2, 15), lon0, lon0 + r.uniform(2, 15), max_level=8
        )
        # redundancy soup: the covering + full expansions of a sample of
        # its cells (complete quads) + duplicates of another sample
        sample = base[r.integers(0, len(base), max(1, len(base) // 3))]
        exp = COV.covering_to_level(sample, 10)
        dups = base[r.integers(0, len(base), len(base) // 2)]
        cells = np.concatenate([base, exp, dups])
        pdf = pd.DataFrame({"g": np.zeros(len(cells), np.int64), "cell_id": cells.view(np.int64)})
        out1 = normalize_cell_union(
            spark.createDataFrame(pdf), group_cols=["g"]
        ).toPandas()
        norm = out1["cell_id"].to_numpy(np.int64).view(np.uint64)

        # (a) identical leaf union
        assert merged(norm) == merged(cells)
        # (b) disjoint: merged interval count == cell count after dedup of
        # touching is impossible unless disjoint; check directly
        iv = leaf_intervals(norm)
        order = np.argsort(iv[:, 0], kind="stable")
        iv = iv[order]
        assert (iv[1:, 0] >= iv[:-1, 1]).all()
        # (c) no complete 4-sibling quad
        lvls = K.cell_id_to_level(norm).astype(int)
        for lvl in np.unique(lvls):
            if lvl == 0:
                continue
            sub = norm[lvls == lvl]
            parents = K.cell_id_to_parent_cell_id(sub, int(lvl) - 1)
            _, counts = np.unique(parents, return_counts=True)
            assert counts.max(initial=0) < 4, f"mergeable quad at level {lvl}"
        # (d) idempotence
        out2 = normalize_cell_union(
            spark.createDataFrame(out1.rename(columns={"cell_id": "cell_id"})),
            group_cols=["g"],
        ).toPandas()
        assert set(out2["cell_id"]) == set(out1["cell_id"])


def test_connected_components_vs_union_find(spark):
    """Star-alternation components vs a numpy union-find oracle on three
    adversarial shapes: sparse random, a 200-node path (diameter stress —
    naive propagation would need 200 rounds; star alternation is
    logarithmic), and disjoint cliques."""
    from s2cell_spark.operators.components import connected_components

    def uf_labels(n_edges, nodes):
        parent = {x: x for x in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in n_edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in nodes}

    rng = np.random.default_rng(13)
    cases = []
    er = [(int(a), int(b)) for a, b in rng.integers(0, 300, (250, 2)) if a != b]
    cases.append(er)
    cases.append([(i, i + 1) for i in range(1000, 1200)])  # path, diameter 200
    cliques = [
        (base + i, base + j)
        for base in (0, 50, 100)
        for i in range(8)
        for j in range(i + 1, 8)
    ]
    cases.append(cliques)
    for edges in cases:
        nodes = sorted({x for e in edges for x in e})
        pdf = pd.DataFrame(edges, columns=["src", "dst"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                spark.createDataFrame(pdf), max_rounds=25
            ).collect()
        }
        assert got == uf_labels(edges, nodes)


def test_connected_components_converges_within_max_rounds(spark):
    """Disjoint 8-cliques contract to stars in one round, and the second
    round reproduces them: convergence is observable after 2 rounds, so
    ``max_rounds=2`` must suffice. A check only every other round would
    need a third round to see the fixed point."""
    from s2cell_spark.operators.components import connected_components

    cliques = [
        (base + i, base + j)
        for base in (0, 50, 100)
        for i in range(8)
        for j in range(i + 1, 8)
    ]
    pdf = pd.DataFrame(cliques, columns=["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(pdf), max_rounds=2
        ).collect()
    }
    assert got == {base + i: base for base in (0, 50, 100) for i in range(8)}


def test_streaming_radius_alerts_match_batch(spark, tmp_path):
    """Stream-static within-radius join == the batch within_radius_join
    on the same input, row-for-row (circle_id, url, dist_fp)."""
    from s2cell_spark.operators.radius import within_radius_join
    from s2cell_spark.streaming.ingest import streaming_radius_alerts

    circles = {0: (40.75, -74.0, 4.0), 1: (-33.87, 18.42, 9.0)}
    src = str(tmp_path / "stream_src_radius")
    load_pages(spark, SF_SMOKE).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = streaming_radius_alerts(stream, spark, circles)
    q = (
        out.writeStream.format("memory")
        .queryName("radalerts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["circle_id"], r["url"], r["dist_fp"])
        for r in spark.sql("select * from radalerts").collect()
    }
    batch = within_radius_join(
        with_cell_id(load_pages(spark, SF_SMOKE)), spark, circles
    )
    want = {
        (r["circle_id"], r["url"], r["dist_fp"])
        for r in batch.select("circle_id", "url", "dist_fp").collect()
    }
    assert got == want and len(want) > 0


def test_intersect_cell_unions_matches_interval_oracle(spark):
    """intersect_cell_unions vs pure-numpy interval intersection of the
    merged leaf sets, on overlapping / nested / disjoint inputs; output
    must also be in normal form (disjoint, no complete quads)."""
    from s2cell_spark.operators.cellunion import intersect_cell_unions

    def leaf_intervals(ids):
        lsb = ids & (~ids + np.uint64(1))
        lo = ((ids - lsb + np.uint64(1)) >> np.uint64(1)).astype(np.uint64)
        return np.stack([lo, lo + lsb], axis=1)

    def merged(ids):
        iv = leaf_intervals(ids)
        iv = iv[np.argsort(iv[:, 0], kind="stable")]
        out = []
        for lo, hi in iv:
            if out and lo <= out[-1][1]:
                out[-1][1] = max(out[-1][1], hi)
            else:
                out.append([lo, hi])
        return out

    def inter(ia, ib):
        out, i, j = [], 0, 0
        while i < len(ia) and j < len(ib):
            lo = max(ia[i][0], ib[j][0])
            hi = min(ia[i][1], ib[j][1])
            if lo < hi:
                out.append((int(lo), int(hi)))
            if ia[i][1] < ib[j][1]:
                i += 1
            else:
                j += 1
        return out

    cases = [
        # overlapping rect coverings
        (
            COV.latlng_rect_covering(-10, 10, 0, 20, max_level=7),
            COV.latlng_rect_covering(0, 15, 10, 30, max_level=7),
        ),
        # nested: a box and a sub-box
        (
            COV.latlng_rect_covering(30, 50, -20, 10, max_level=7),
            COV.latlng_rect_covering(35, 45, -10, 0, max_level=8),
        ),
        # disjoint
        (
            COV.latlng_rect_covering(10, 20, 10, 20, max_level=7),
            COV.latlng_rect_covering(-60, -50, -120, -110, max_level=7),
        ),
    ]
    for A, B in cases:
        dfa = spark.createDataFrame(
            pd.DataFrame({"g": np.zeros(len(A), np.int64), "cell_id": A.view(np.int64)})
        )
        dfb = spark.createDataFrame(
            pd.DataFrame({"g": np.zeros(len(B), np.int64), "cell_id": B.view(np.int64)})
        )
        got = intersect_cell_unions(dfa, dfb, group_cols=["g"]).toPandas()
        norm = got["cell_id"].to_numpy(np.int64).view(np.uint64)
        want = inter(merged(A), merged(B))
        if not want:
            assert len(norm) == 0
            continue
        assert [(int(a), int(b)) for a, b in merged(norm)] == want
        # normal form: disjoint and no complete sibling quads
        iv = leaf_intervals(norm)
        iv = iv[np.argsort(iv[:, 0], kind="stable")]
        assert (iv[1:, 0] >= iv[:-1, 1]).all()
        lvls = K.cell_id_to_level(norm).astype(int)
        for lvl in np.unique(lvls):
            if lvl == 0:
                continue
            sub = norm[lvls == lvl]
            parents = K.cell_id_to_parent_cell_id(sub, int(lvl) - 1)
            _, counts = np.unique(parents, return_counts=True)
            assert counts.max(initial=0) < 4


def test_difference_cell_unions_matches_interval_oracle(spark):
    """A \\ B vs numpy interval subtraction on overlapping, nested (B
    punches a hole in A), and disjoint inputs; output in normal form."""
    from s2cell_spark.operators.cellunion import difference_cell_unions

    def leaf_intervals(ids):
        lsb = ids & (~ids + np.uint64(1))
        lo = ((ids - lsb + np.uint64(1)) >> np.uint64(1)).astype(np.uint64)
        return np.stack([lo, lo + lsb], axis=1)

    def merged(ids):
        iv = leaf_intervals(ids)
        iv = iv[np.argsort(iv[:, 0], kind="stable")]
        out = []
        for lo, hi in iv:
            if out and lo <= out[-1][1]:
                out[-1][1] = max(out[-1][1], hi)
            else:
                out.append([int(lo), int(hi)])
        return out

    def subtract(ia, ib):
        out = []
        for lo, hi in ia:
            cur = lo
            for blo, bhi in ib:
                if bhi <= cur or blo >= hi:
                    continue
                if blo > cur:
                    out.append((cur, min(blo, hi)))
                cur = max(cur, bhi)
                if cur >= hi:
                    break
            if cur < hi:
                out.append((cur, hi))
        return out

    cases = [
        (
            COV.latlng_rect_covering(-10, 10, 0, 20, max_level=7),
            COV.latlng_rect_covering(0, 15, 10, 30, max_level=7),
        ),
        (  # B nested inside A -> difference has a hole
            COV.latlng_rect_covering(30, 50, -20, 10, max_level=7),
            COV.latlng_rect_covering(35, 45, -10, 0, max_level=8),
        ),
        (
            COV.latlng_rect_covering(10, 20, 10, 20, max_level=7),
            COV.latlng_rect_covering(-60, -50, -120, -110, max_level=7),
        ),
    ]
    for A, B in cases:
        dfa = spark.createDataFrame(
            pd.DataFrame({"g": np.zeros(len(A), np.int64), "cell_id": A.view(np.int64)})
        )
        dfb = spark.createDataFrame(
            pd.DataFrame({"g": np.zeros(len(B), np.int64), "cell_id": B.view(np.int64)})
        )
        got = difference_cell_unions(dfa, dfb, group_cols=["g"]).toPandas()
        norm = got["cell_id"].to_numpy(np.int64).view(np.uint64)
        want = subtract(merged(A), merged(B))
        assert [(int(a), int(b)) for a, b in merged(norm)] == want
        iv = leaf_intervals(norm)
        iv = iv[np.argsort(iv[:, 0], kind="stable")]
        assert (iv[1:, 0] >= iv[:-1, 1]).all()


def test_streaming_interval_alerts_match_batch(spark, tmp_path):
    """interval_join on a stream (stream-static: the static windows'
    bucket explode re-plans per micro-batch) == batch interval_join on
    the same events and windows."""
    from s2cell_spark.operators.intervaljoin import interval_join

    src = str(tmp_path / "stream_src_iv")
    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    w = spark.range(20).selectExpr(
        "id AS window_id",
        "timestampadd(HOUR, cast(id*30 AS INT), TIMESTAMP_NTZ'2024-01-01 00:00:00') AS s",
        "timestampadd(HOUR, cast(id*30 + 7 AS INT), TIMESTAMP_NTZ'2024-01-01 00:00:00') AS e",
    )
    out = interval_join(stream, w, "ts", "s", "e", 6 * 3600).select(
        "window_id", "event_id"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ivalerts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_id"], r["event_id"])
        for r in spark.sql("select * from ivalerts").collect()
    }
    want = {
        (r["window_id"], r["event_id"])
        for r in interval_join(ev, w, "ts", "s", "e", 6 * 3600)
        .select("window_id", "event_id")
        .collect()
    }
    assert got == want and len(want) > 100


def test_asof_tolerance_on_ntz_timestamps(spark):
    """tolerance_ms must work on TIMESTAMP_NTZ (the repo's canonical
    events.ts type): Spark 4 refuses to cast NTZ to DOUBLE, so the
    freshness check uses NTZ-safe timestampdiff (round-3 ADVICE)."""
    from datetime import datetime

    from s2cell_spark.operators.asof import asof_join

    L = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 1, 1, 10, 0, 0)),
            (2, 10, datetime(2024, 1, 1, 12, 0, 0)),
        ],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    R = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 9, 55, 0), 100),
            (10, datetime(2024, 1, 1, 10, 30, 0), 101),
        ],
        "user_id long, ts timestamp_ntz, snap long",
    )
    tol = {
        r["event_id"]: r["r_snap"]
        for r in asof_join(
            L, R, on="user_id", ts_col="ts", tolerance_ms=10 * 60 * 1000
        ).collect()
    }
    assert tol[1] == 100  # 5 min old: fresh
    assert tol[2] is None  # 90 min old: stale -> nulled, row kept
    assert set(tol) == {1, 2}


def test_bloom_pruned_join_refuses_outer_joins(spark):
    """The bloom prune removes fact rows BEFORE the join; an outer join
    would silently drop rows it contractually must null-extend — refuse
    (round-3 ADVICE, mirrors interval_join's how guard)."""
    from s2cell_spark.plans.bloom import bloom_pruned_join

    fact = spark.range(0, 10).select(F.col("id").alias("k"))
    dim = spark.range(0, 3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="inner"):
        bloom_pruned_join(fact, dim, on="k", how="left")
    with pytest.raises(ValueError, match="inner"):
        bloom_pruned_join(fact, dim, on="k", how="full")
    # semi stays legal: prune + semi-join is exactly the bloom's contract
    assert bloom_pruned_join(fact, dim, on="k", how="semi").count() == 3


def test_interval_join_rejects_pathological_interval_span(spark):
    """A year-long interval at minute buckets must fail with a CLEAR
    error (naming the operator and the fix) instead of sequence()-ing a
    ~525k-element array per row (round-3 verdict item 7)."""
    from datetime import datetime

    from s2cell_spark.operators.intervaljoin import interval_join

    P = spark.createDataFrame(
        [(1, datetime(2024, 6, 1))], "pid long, ts timestamp"
    )
    I = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2025, 1, 1))],
        "iid long, s timestamp, e timestamp",
    )
    bad = interval_join(P, I, "ts", "s", "e", bucket_seconds=60)
    with pytest.raises(Exception, match="interval_join"):
        bad.collect()
    # a sane bucket width on the same data is fine
    ok = interval_join(P, I, "ts", "s", "e", bucket_seconds=90 * 86400)
    assert ok.count() == 1


def test_streaming_sessions_out_of_order_beyond_gap_splits(spark, tmp_path):
    """watermark > gap (the DEFAULT config): a within-watermark event
    arriving more than `gap` BEFORE the open session's start must form
    its own session (as batch session_window would), NOT merge backwards
    across the quiet period; an event within gap of the start still
    legitimately extends the session backwards (round-3 ADVICE). The
    streaming side is the same native user_sessions on a watermarked
    stream."""
    from datetime import datetime, timedelta

    from s2cell_spark.streaming.sessionize import user_sessions

    t0 = datetime(2024, 3, 1, 0, 0, 0)
    m = lambda k: t0 + timedelta(minutes=k)  # noqa: E731
    b1 = [
        (1, m(100)), (1, m(110)),  # user 1: open session 100..110
        (2, m(100)), (2, m(110)),  # user 2: open session 100..110
    ]
    b2 = [
        (1, m(10)),   # > gap before user 1's open start -> OWN session
        (2, m(85)),   # within gap of user 2's start -> extends backwards
    ]
    b3 = [(3, m(60 * 24 * 30))]  # watermark pusher closes everything
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp"

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        out = user_sessions(stream.withWatermark("ts", "12 hours"), gap="30 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    for name, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
        drop(name, rows)
        run_once()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(sink).collect()
    }
    all_events = spark.createDataFrame(b1 + b2 + b3, schema)
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in user_sessions(all_events, gap="30 minutes").collect()
        if r["user_id"] != 3  # the pusher's own session never closes
    }
    assert (1, m(10), m(10), 1) in batch  # fixture sanity: batch splits it
    assert (2, m(85), m(110), 3) in batch  # ...and merges this one
    assert got == batch


def test_asof_join_chunked_row_identical_randomized(spark):
    """Skew-safe chunked as-of == plain as-of, row for row, across chunk
    widths that exercise every carry shape: chunks narrower than typical
    right-row gaps (carry-in crosses MANY empty chunks), chunks wider
    than the whole range (degenerates to one chunk), and a mid width.
    Includes keys absent from the right side and tolerance_ms."""
    from s2cell_spark.operators.asof import asof_join, asof_join_chunked

    rng = np.random.default_rng(77)
    base = pd.Timestamp("2024-06-01")
    lpdf = pd.DataFrame(
        {
            "event_id": np.arange(200, dtype=np.int64),
            "k": rng.integers(0, 10, 200),
            "ts": base + pd.to_timedelta(rng.integers(0, 86400, 200), unit="s"),
        }
    )
    rpdf = pd.DataFrame(
        {
            # keys 7-9 never appear on the right side
            "k": rng.integers(0, 7, 60),
            "ts": base + pd.to_timedelta(rng.integers(0, 86400, 60), unit="s"),
            "snap": np.arange(60, dtype=np.int64) * 10,
        }
    ).drop_duplicates(["k", "ts"])
    L = spark.createDataFrame(lpdf, "event_id long, k long, ts timestamp")
    R = spark.createDataFrame(rpdf, "k long, ts timestamp, snap long")

    def rows(df):
        return {
            (r["event_id"], r["r_ts"], r["r_snap"]) for r in df.collect()
        }

    for tol in (None, 3 * 3600 * 1000):
        want = rows(asof_join(L, R, on="k", ts_col="ts", tolerance_ms=tol))
        for chunk_s in (60, 3600, 7 * 86400):
            got = rows(
                asof_join_chunked(
                    L, R, on="k", ts_col="ts",
                    chunk_seconds=chunk_s, tolerance_ms=tol,
                )
            )
            assert got == want, (chunk_s, tol)


def test_asof_join_chunked_ntz_timestamps(spark):
    """events.ts is TIMESTAMP_NTZ: the chunk derivation and the tolerance
    path must both be NTZ-safe (timestampdiff, never cast-to-double)."""
    from datetime import datetime

    from s2cell_spark.operators.asof import asof_join, asof_join_chunked

    L = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 1, 1, 10, 0, 0)),
            (2, 10, datetime(2024, 1, 2, 12, 0, 0)),
            (3, 20, datetime(2024, 1, 1, 9, 0, 0)),
        ],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    R = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 9, 55, 0), 100),
            (10, datetime(2024, 1, 2, 11, 0, 0), 101),
        ],
        "user_id long, ts timestamp_ntz, snap long",
    )
    want = {
        (r["event_id"], r["r_snap"])
        for r in asof_join(
            L, R, on="user_id", ts_col="ts", tolerance_ms=2 * 3600 * 1000
        ).collect()
    }
    got = {
        (r["event_id"], r["r_snap"])
        for r in asof_join_chunked(
            L, R, on="user_id", ts_col="ts",
            chunk_seconds=3600, tolerance_ms=2 * 3600 * 1000,
        ).collect()
    }
    assert got == want == {(1, 100), (2, 101), (3, None)}


def test_asof_join_null_payload_field_not_resurrected(spark):
    """ASOF semantics are row-atomic: when the matched right row has a
    legitimately-NULL payload field, the output must carry that NULL —
    not resurrect an OLDER right row's non-null value for the field.
    (Per-column independent last(ignorenulls) carries get this wrong;
    the struct carry is the fix.) Pinned for both as-of forms."""
    from datetime import datetime

    from s2cell_spark.operators.asof import asof_join, asof_join_chunked

    L = spark.createDataFrame(
        [(1, 10, datetime(2024, 1, 1, 12, 0, 0))],
        "event_id long, user_id long, ts timestamp",
    )
    R = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 9, 0, 0), 100, "old"),
            (10, datetime(2024, 1, 1, 11, 0, 0), None, "new"),
        ],
        "user_id long, ts timestamp, snap long, tag string",
    )
    for f in (
        lambda: asof_join(L, R, on="user_id", ts_col="ts"),
        lambda: asof_join_chunked(
            L, R, on="user_id", ts_col="ts", chunk_seconds=1800
        ),
    ):
        r = f().collect()[0]
        assert r["r_tag"] == "new" and r["r_snap"] is None


def test_hash_split_partition_invariant_and_exhaustive(spark):
    """Split assignment is a pure function of (id, salt): disjoint +
    exhaustive over the bucket space, identical under any physical
    layout, ~matching the requested proportions, and re-rolled by the
    salt. df.sample/rand() pass none of these."""
    import pytest as _pytest

    from s2cell_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    splits = {"train": 9000, "val": 500, "test": 500}
    a = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.repartition(7), splits).collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.coalesce(1), splits).collect()
    }
    assert a == b and len(a) == 5000  # exhaustive: every row labeled
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] - 4500) < 150 and abs(c["val"] - 250) < 80
    # sampling: nested rates, subset semantics, salt independence
    s5 = {r["doc_id"] for r in deterministic_sample(df, 500).collect()}
    s10 = {r["doc_id"] for r in deterministic_sample(df, 1000).collect()}
    assert s5 <= s10 and abs(len(s10) - 500) < 80
    salted = {
        r["doc_id"] for r in deterministic_sample(df, 1000, salt="v2").collect()
    }
    assert salted != s10 and abs(len(salted) - 500) < 80
    with _pytest.raises(ValueError):
        hash_split(df, {"train": 9000, "val": 500})
    with _pytest.raises(ValueError):
        deterministic_sample(df, 10001)


def test_stratified_split_exact_quotas_and_layout_invariance(spark):
    """stratified_split hits EXACT floor quotas inside every stratum
    (hash_split is only binomially close), assigns identically under any
    physical layout, re-rolls with the salt, and validates arguments.
    Strata sized 5000/97/3 cover the balanced, awkward-floor, and
    tiny-remainder cases."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from s2cell_spark.operators.sampling import stratified_split

    df = spark.range(5100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 5000, "big")
        .when(F.col("id") < 5097, "mid")
        .otherwise("tiny")
        .alias("lang"),
    )
    splits = {"train": 9000, "val": 500, "test": 500}
    out = stratified_split(df.repartition(11), splits, strata_col="lang")
    counts = {
        (r["lang"], r["split"]): r["n"]
        for r in out.groupBy("lang", "split").agg(F.count("*").alias("n")).collect()
    }
    # exact quotas: floor(n_g * bp / 10000), remainder to the LAST split
    assert counts[("big", "train")] == 4500
    assert counts[("big", "val")] == 250 and counts[("big", "test")] == 250
    assert counts[("mid", "train")] == 87  # floor(97 * .9)
    assert counts[("mid", "val")] == 5 and counts[("mid", "test")] == 5
    assert counts[("tiny", "train")] == 2  # floor(3 * .9)
    assert ("tiny", "val") not in counts and counts[("tiny", "test")] == 1
    # layout invariance: identical assignment map however rows are laid out
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in stratified_split(df.coalesce(1), splits, strata_col="lang").collect()
    }
    assert a == b and len(a) == 5100
    # salt re-rolls assignments without changing quotas
    c = {
        r["doc_id"]: r["split"]
        for r in stratified_split(df, splits, strata_col="lang", salt="v2").collect()
    }
    assert c != a and sorted(c.values()) == sorted(a.values())
    with _pytest.raises(ValueError):
        stratified_split(df, {"train": 9000, "val": 500}, strata_col="lang")
    with _pytest.raises(ValueError):
        stratified_split(df, splits, strata_col="lang", rank_buckets=3)


def test_stratified_split_null_strata_nonstring_and_cardinality_guard(spark):
    """A NULL stratum is a stratum (its rows must NOT be dropped by the
    quota join), non-string strata columns work (offsets schema derives
    from the input dtype), and a pathological high-cardinality stratum
    raises a clean ValueError instead of an unbounded driver collect."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from s2cell_spark.operators.sampling import stratified_split

    splits = {"train": 9000, "val": 500, "test": 500}
    # NULL stratum: 200 of 1200 rows carry a NULL lang
    df = spark.range(1200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, "en").alias("lang"),
    )
    out = stratified_split(df, splits, strata_col="lang")
    assert out.count() == 1200  # no row lost to the quota join
    null_counts = {
        r["split"]: r["n"]
        for r in out.filter(F.col("lang").isNull())
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert null_counts == {"train": 180, "val": 10, "test": 10}
    # non-string stratum column (long): schema derives from input dtype
    dfi = spark.range(400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).alias("bucket")
    )
    outi = stratified_split(dfi, splits, strata_col="bucket")
    assert outi.count() == 400
    assert outi.schema["bucket"].dataType.typeName() == "long"
    per = {
        (r["bucket"], r["split"]): r["n"]
        for r in outi.groupBy("bucket", "split").agg(F.count("*").alias("n")).collect()
    }
    assert per[(0, "train")] == 180 and per[(1, "train")] == 180
    # high-cardinality stratum: clean error, not a multi-GB collect
    wide = spark.range(50).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("url")
    )
    with _pytest.raises(ValueError, match="hash_split"):
        stratified_split(wide, splits, strata_col="url", max_strata=10)


def test_ngram_contamination_exact_counts(spark):
    """Known overlap geometry: a verbatim benchmark copy (100% of its
    shingles matched), a partial leak (1 of 4), a clean doc (absent from
    the report), and a doc too short to shingle (absent)."""
    from s2cell_spark.operators.contamination import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma zeta eta theta"),
            (3, "foo bar baz qux"),
            (4, "alpha beta"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in ngram_contamination(corpus, bench, threshold_bp=2000).collect()
    }
    assert set(rows) == {1, 2}
    r1, r2 = rows[1], rows[2]
    assert (r1["n_shingles"], r1["n_matched"], r1["contam_bp"]) == (2, 2, 10000)
    assert r1["contaminated"]
    assert (r2["n_shingles"], r2["n_matched"], r2["contam_bp"]) == (4, 1, 2500)
    assert r2["contaminated"]


def test_ngram_contamination_n13_verbatim_only(spark):
    """At the public-pipeline n=13 (GPT-3 App. C / PaLM App. D), only a
    13-word verbatim passage matches: the verbatim copy is flagged, a
    12-word-overlap doc is NOT (no shared 13-gram), and a 12-word doc is
    too short to shingle at all."""
    from s2cell_spark.operators.contamination import ngram_contamination

    passage = " ".join(f"w{i}" for i in range(13))  # w0..w12
    corpus = spark.createDataFrame(
        [
            (1, "intro " + passage + " outro"),           # contains the 13-gram
            (2, " ".join(f"w{i}" for i in range(12)) + " DIFFERENT end pad pad2"),
            (3, " ".join(f"w{i}" for i in range(12))),    # 12 words: no shingle
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, passage)], "doc_id long, text string")
    rows = {
        r["doc_id"]: r
        for r in ngram_contamination(corpus, bench, threshold_bp=2000, n=13).collect()
    }
    assert set(rows) == {1}
    assert rows[1]["n_matched"] == 1 and rows[1]["n_shingles"] == 3


def test_geotag_from_text_extraction_bounds_and_fallback(spark):
    """geotag_from_text: a valid embedded pair wins over the hash geotag,
    out-of-bounds pairs fall back, half pairs / no pairs fall back, and
    the extracted doubles equal Python's float() of the same strings."""
    from s2cell_spark.sources.pages import geotag_from_text

    df = spark.createDataFrame(
        [
            (1, "store at 40.7128, -74.0060 downtown", 1.0, 2.0),
            (2, "bogus 95.5, 10.0 pair", 3.0, 4.0),       # lat out of bounds
            (3, "bogus 10.0, 181.25 pair", 5.0, 6.0),     # lon out of bounds
            (4, "no coordinates here", 7.0, 8.0),
            (5, "half 12.5, pair", 9.0, 10.0),
            (6, "negative -33.865, 151.209 ok", 11.0, 12.0),
        ],
        "doc_id long, text string, lat double, lon double",
    )
    rows = {r["doc_id"]: r for r in geotag_from_text(df).collect()}
    assert rows[1]["geo_src"] == "text"
    assert rows[1]["geo_lat"] == float("40.7128")
    assert rows[1]["geo_lon"] == float("-74.0060")
    assert rows[6]["geo_src"] == "text" and rows[6]["geo_lat"] == float("-33.865")
    for d in (2, 3, 4, 5):
        assert rows[d]["geo_src"] == "hash"
        assert (rows[d]["geo_lat"], rows[d]["geo_lon"]) == (
            float(2 * d - 1),
            float(2 * d),
        )


def test_ivf_recall_floor_vs_brute(spark):
    """IVF defaults carry recall evidence (round-4 verdict item 8): on a
    deterministic synthetic corpus the shipped (n_cells, nprobe) defaults
    recover >= 60% of the exact top-k, and full probing (nprobe ==
    n_cells) recovers it EXACTLY (IVF with every list probed degenerates
    to brute force). The 16x-scale recall row lives in BENCH/TEXTSCALE."""
    import numpy as np

    from s2cell_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk

    rng = np.random.default_rng(5)
    n, dim, k = 2000, 16, 5
    mat = rng.standard_normal((n, dim))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = [(int(i), [float(x) for x in mat[i]]) for i in range(8)]
    brute = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, queries, k).collect()
    }
    got_default = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, queries, k, n_cells=16, nprobe=4).collect()
    }
    assert len(got_default & brute) / len(brute) >= 0.6
    got_full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, queries, k, n_cells=16, nprobe=16).collect()
    }
    assert got_full == brute


def test_dense_cell_clusters_adjacency_density_and_4connectivity(spark):
    """Hand-built leaf cells: two +i-adjacent dense cells merge into one
    cluster (min-token seed), a diagonal dense cell does NOT (4-adjacency,
    not 8), a far dense cell is its own singleton, and a 2-page cell
    falls under min_pages and is absent."""
    import numpy as np

    from s2cell_spark import kernels
    from s2cell_spark.operators.spatialcluster import dense_cell_clusters

    level = 7
    size = 1 << (30 - level)
    bi, bj = size * 40, size * 40  # comfortably interior on face 1

    def leaves(face, i, j, n):
        ii = np.full(n, i, dtype=np.int64) + np.arange(n)
        jj = np.full(n, j, dtype=np.int64)
        ff = np.full(n, face, dtype=np.int64)
        return [
            int(c)
            for c in kernels.face_ij_to_cell_id(ff, ii, jj, 30).view(np.int64)
        ]

    def token(face, i, j):
        leaf = kernels.face_ij_to_cell_id(
            np.array([face]), np.array([i]), np.array([j]), 30
        )
        return str(
            kernels.cell_id_to_token(
                kernels.cell_id_to_parent_cell_id(leaf, level)
            )[0]
        )

    cells = (
        leaves(1, bi, bj, 3)  # A: dense
        + leaves(1, bi + size, bj, 3)  # B: dense, +i neighbor of A
        + leaves(1, bi - size, bj - size, 3)  # F: diagonal to A only
        + leaves(1, bi + 10 * size, bj, 4)  # C: dense, isolated
        + leaves(1, bi, bj + 20 * size, 2)  # D: sparse, dropped
    )
    pages = spark.createDataFrame([(c,) for c in cells], "cell_id long")
    out = {
        r["cell_token"]: r
        for r in dense_cell_clusters(pages, level=level, min_pages=3).collect()
    }
    tA, tB = token(1, bi, bj), token(1, bi + size, bj)
    tF, tC = token(1, bi - size, bj - size), token(1, bi + 10 * size, bj)
    assert set(out) == {tA, tB, tF, tC}
    assert out[tA]["cluster_token"] == out[tB]["cluster_token"] == min(tA, tB)
    assert out[tF]["cluster_token"] == tF and out[tF]["is_seed"]
    assert out[tC]["cluster_token"] == tC and out[tC]["is_seed"]
    assert out[tA]["is_seed"] != out[tB]["is_seed"]  # exactly one seed
    assert (out[tA]["n_pages"], out[tC]["n_pages"]) == (3, 4)


def test_weighted_sample_rates_layout_invariance_and_edges(spark):
    """weighted_sample keeps ~weight*rate of rows (exact set asserted by
    re-deriving the integer rule in python), is layout-invariant, nests
    monotonically in rate, and clamp-keeps weight >= 10000 at full rate."""
    import hashlib

    import pytest as _pytest
    from pyspark.sql import functions as F

    from s2cell_spark.operators.sampling import weighted_sample

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # three weight classes: 2500 bp, 10000 bp (==deterministic), 20000 bp
        F.when(F.col("id") % 3 == 0, 2500)
        .when(F.col("id") % 3 == 1, 10000)
        .otherwise(20000)
        .cast("long")
        .alias("w_bp"),
    )

    def expect(doc_id: int, w: int, rate: int) -> bool:
        h = int(hashlib.md5(f"{doc_id}:s".encode()).hexdigest()[:8], 16) & (
            (1 << 31) - 1
        )
        return (h >> 7) * 10**8 < w * rate * (1 << 24)

    kept = {
        r["doc_id"]
        for r in weighted_sample(df, "w_bp", rate_bp=5000, salt="s").collect()
    }
    truth = {
        i for i in range(n) if expect(i, [2500, 10000, 20000][i % 3], 5000)
    }
    assert kept == truth
    # rates land near weight*rate: class 2500bp @ rate 5000 ~= 12.5%
    c0 = sum(1 for i in kept if i % 3 == 0) / (n / 3)
    c1 = sum(1 for i in kept if i % 3 == 1) / (n / 3)
    assert abs(c0 - 0.125) < 0.02 and abs(c1 - 0.5) < 0.02
    # layout invariance
    kept_c1 = {
        r["doc_id"]
        for r in weighted_sample(df.coalesce(1), "w_bp", rate_bp=5000, salt="s").collect()
    }
    assert kept_c1 == kept
    # monotone nesting in rate
    kept_lo = {
        r["doc_id"]
        for r in weighted_sample(df, "w_bp", rate_bp=1000, salt="s").collect()
    }
    assert kept_lo <= kept
    # clamp: weight 20000 at full rate keeps everything in that class
    full = weighted_sample(df, "w_bp", rate_bp=10000, salt="s")
    n_class2 = sum(1 for i in range(n) if i % 3 == 2)
    assert full.filter((F.col("doc_id") % 3 == 2)).count() == n_class2
    with _pytest.raises(ValueError):
        weighted_sample(df, "w_bp", rate_bp=10001)


def test_bulk_pip_join_matches_numpy_ray_cast(spark, pages):
    """bulk_pip_join (executor coverings + native ray-cast) returns the
    IDENTICAL (region, doc) set as a brute-force numpy ray cast
    (covering._points_in_polygon) over EVERY page, with no covering — so a
    covering that drops an inside page fails too. Regions: a concave
    polygon, a multi-ring region whose second ring is a HOLE (even-odd), a
    concave quadrilateral and a triangle."""
    from s2cell_spark.operators.bulkcover import RINGS_TYPE, bulk_pip_join

    regions = {
        0: [[(45.0, -5.0), (55.0, 0.0), (50.0, 5.0), (55.0, 10.0),
             (45.0, 15.0), (48.0, 5.0)]],
        1: [[(-15.0, 5.0), (15.0, 5.0), (15.0, 35.0), (-15.0, 35.0)],
            [(-5.0, 15.0), (5.0, 15.0), (5.0, 25.0), (-5.0, 25.0)]],
        2: [[(39.5, -75.5), (42.0, -74.0), (39.5, -72.5), (40.7, -74.0)]],
        3: [[(40.0, -75.0), (42.5, -74.0), (40.0, -72.0)]],
    }
    pdf = pages.select("doc_id", "lat", "lon").toPandas()
    lat, lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
    want = {
        (rid, d)
        for rid, rings in regions.items()
        for d in pdf.loc[
            COV._points_in_polygon([np.asarray(r) for r in rings], lat, lon), "doc_id"
        ]
    }
    polys = spark.createDataFrame(
        [(rid, rings) for rid, rings in regions.items()],
        schema=f"region_id long, rings {RINGS_TYPE}",
    ).repartition(3)
    # hole actually excluded: a page inside ring 2 of region 1 never appears
    inside_hole = {
        r["doc_id"]
        for r in pages.filter(
            (F.col("lat") > -5) & (F.col("lat") < 5)
            & (F.col("lon") > 15) & (F.col("lon") < 25)
        ).select("doc_id").collect()
    }
    assert inside_hole
    # (8, 10): coverings deeper than the join level, lifted to level 8
    for level, max_level in ((10, 10), (8, 10)):
        got = {
            (r["region_id"], r["doc_id"])
            for r in bulk_pip_join(pages, polys, level=level, max_level=max_level)
            .select("region_id", "doc_id")
            .collect()
        }
        assert got == want and len(got) > 0
        assert {rid for rid, _ in got} == set(regions)  # no region is vacuous
        assert not {(1, d) for d in inside_hole} & got


@pytest.mark.parametrize(
    "extra",
    [(None, "twin"), (7, []), (8, None)],
    ids=["null_region_id", "empty_rings", "null_rings"],
)
def test_bulk_pip_join_skips_null_ids_and_empty_polygons(spark, pages, extra):
    """A polygon row with a null region_id, or with no vertex (empty or
    null rings), contains no page and leaves the other rows unaffected:
    the null id is not covered as region 0, and the empty polygon does
    not fail the covering stage."""
    import __spark_entry__ as E
    from s2cell_spark.functions.udfs import arrow_frame
    from s2cell_spark.operators.bulkcover import RINGS_TYPE, bulk_pip_join

    rows = list(E.PIP_POLYGONS.items())
    rid, rings = extra
    extra_row = (rid, E.PIP_POLYGONS[0] if rings == "twin" else rings)

    def pairs(polys):
        polys = arrow_frame(spark, polys, f"region_id long, rings {RINGS_TYPE}")
        return sorted(
            (r["region_id"], r["doc_id"])
            for r in bulk_pip_join(pages, polys, level=10, max_level=10)
            .select("region_id", "doc_id")
            .collect()
        )

    want = pairs(rows)
    assert want and len(set(want)) == len(want)
    assert pairs(rows + [extra_row]) == want
