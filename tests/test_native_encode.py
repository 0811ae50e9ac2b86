"""Native (JVM-codegen) S2 encode vs the reference's C++-generated
corpus and the numpy kernels — the correctness gate for flipping the
honest-throughput job's encode arm off the Arrow UDF path (round-4
verdict item 1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from s2cell_spark import kernels
from s2cell_spark.functions.native_encode import with_cell_id


def _spark_encode(spark, lat, lon, level) -> np.ndarray:
    """Run the native encode through Spark, return int64 IDs in row order."""
    pdf = pd.DataFrame({"rid": np.arange(len(lat)), "lat": lat, "lon": lon})
    if not isinstance(level, int):
        pdf["level"] = level
        level = F.col("level")
    df = spark.createDataFrame(pdf).repartition(8)
    out = with_cell_id(df, level=level).select("rid", "cell_id").toPandas()
    return out.sort_values("rid")["cell_id"].to_numpy()


def test_native_encode_corpus_bit_exact(spark, encode_corpus):
    """All 111,600 reference-corpus rows (mixed levels 0..30) encode to
    the EXACT C++ cell ID via pure Catalyst expressions — including the
    JVM-vs-libm trig boundary the module docstring calls out."""
    lat, lon, level, want_id, _ = encode_corpus
    got = _spark_encode(spark, lat, lon, level.astype(np.int64))
    want = want_id.view(np.int64)
    assert (got == want).all(), f"{(got != want).sum()} corpus mismatches"


def test_native_encode_matches_kernels_random(spark):
    """300k uniform random points, three fixed levels: native == numpy
    kernel arm bit-for-bit (the two arms must be interchangeable in the
    throughput job)."""
    rng = np.random.default_rng(20260817)
    n = 300_000
    lat = rng.uniform(-90.0, 90.0, n)
    lon = rng.uniform(-180.0, 180.0, n)
    for level in (30, 8, 2):
        want = kernels.lat_lon_to_cell_id(lat, lon, level).view(np.int64)
        got = _spark_encode(spark, lat, lon, level)
        assert (got == want).all(), (
            f"level {level}: {(got != want).sum()} kernel mismatches"
        )


def test_native_encode_poles_and_edges(spark):
    """Cube corners / face boundaries / poles — the wrap-prone inputs the
    property fuzz hits hardest — plus clamp cases just outside the
    domain's representable edge."""
    pts = [
        (0.0, 0.0), (90.0, 0.0), (-90.0, 0.0), (0.0, 180.0), (0.0, -180.0),
        (45.0, 45.0), (-45.0, -135.0), (35.26438968275465, 45.0),
        (89.999999999, 179.999999999), (-89.999999999, -179.999999999),
        (1e-15, 1e-15), (-0.0, -0.0),
    ]
    lat = np.array([p[0] for p in pts])
    lon = np.array([p[1] for p in pts])
    for level in (30, 12, 0):
        want = kernels.lat_lon_to_cell_id(lat, lon, level).view(np.int64)
        got = _spark_encode(spark, lat, lon, level)
        assert (got == want).all()


def test_native_encode_single_codegen_stage(spark):
    """Plan shape: the whole encode fuses into ONE WholeStageCodegen span
    with no Python eval node and no exchange — the property that makes
    it the scale arm (rows never leave Tungsten)."""
    df = spark.range(100).select(
        (F.col("id") * 0.001 - 45).alias("lat"),
        (F.col("id") * 0.002 - 90).alias("lon"),
    )
    plan = (
        with_cell_id(df, level=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "Exchange" not in plan
    stages = {
        line.split(")")[0] for line in plan.split("*(")[1:]
    }  # stage ids after each codegen star
    assert stages == {"1"}, f"expected one codegen stage, saw {stages}"


def test_native_encode_second_call_reuses_its_column_stack(spark, monkeypatch):
    """The encode's Column stack is built once per (lat, lon, level, out):
    a repeat call only applies the built withColumns steps, a few dozen
    Py4J round trips instead of the thousands a rebuild costs."""
    import threading

    from py4j.java_gateway import GatewayClient

    df = spark.range(10).select(
        F.col("id").cast("double").alias("lat"), F.col("id").cast("double").alias("lon")
    )
    with_cell_id(df, level=30)
    calls = 0
    send = GatewayClient.send_command
    caller = threading.get_ident()

    def counting(self, *args, **kwargs):
        # Py4J's finalizer thread frees collected proxies through the same
        # method; count only this thread's calls
        nonlocal calls
        calls += threading.get_ident() == caller
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    out = with_cell_id(df, level=30)
    monkeypatch.undo()
    assert calls < 200, calls
    assert out.columns == ["lat", "lon", "cell_id"]


def test_native_decode_corpus_and_kernel_parity(spark, decode_corpus):
    """Native decode meets the reference's own corpus gate (cell-center
    lat/lon within 1e-12 deg of the C++ values — s2cell's decode
    tolerance) and stays within one atan2-ulp of the numpy kernels; the
    integer Si/Ti stage is exact, so any difference is the final trig."""
    import pandas as pd
    from s2cell_spark.functions.native_encode import with_lat_lon

    cell_id, _, want_lat, want_lon, _ = decode_corpus
    pdf = pd.DataFrame(
        {"rid": np.arange(len(cell_id)), "cell_id": cell_id.view(np.int64)}
    )
    out = (
        with_lat_lon(spark.createDataFrame(pdf).repartition(8))
        .select("rid", "lat", "lon")
        .toPandas()
        .sort_values("rid")
    )
    got_lat = out["lat"].to_numpy()
    got_lon = out["lon"].to_numpy()
    assert np.abs(got_lat - want_lat).max() <= 1e-12
    assert np.abs(got_lon - want_lon).max() <= 1e-12
    k_lat, k_lon = kernels.cell_id_to_lat_lon(cell_id)
    assert np.abs(got_lat - k_lat).max() <= 1e-12
    assert np.abs(got_lon - k_lon).max() <= 1e-12


def test_native_encode_decode_roundtrip(spark):
    """Native round trip: encode random points at level 30 natively,
    decode the cells natively, re-encode the centers natively — same
    cell (the reference's own round-trip invariant). Stages run as three
    separate jobs with materialized boundaries: chaining multiple full
    encode/decode stacks into ONE fused 250KB codegen stage trips an
    intermittent HotSpot deopt OOM ("failed reallocation of scalar
    replaced objects") on the 4g test JVM — a composition-depth caveat
    of the native arms, not a semantic one (each stack alone is a lean
    single codegen span, test_native_encode_single_codegen_stage)."""
    from pyspark.sql import functions as F
    from s2cell_spark.functions.native_encode import with_cell_id, with_lat_lon

    df = spark.range(50_000).select(
        (F.pmod(F.col("id") * 7919, F.lit(180000)) / 1000.0 - 90.0).alias("lat"),
        (F.pmod(F.col("id") * 104729, F.lit(360000)) / 1000.0 - 180.0).alias("lon"),
    )
    enc_pdf = with_cell_id(df, level=30).select("cell_id").toPandas()
    dec = with_lat_lon(
        spark.createDataFrame(enc_pdf), lat_out="clat", lon_out="clon"
    )
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    dec_pdf = dec.toPandas()
    re_enc = with_cell_id(
        spark.createDataFrame(dec_pdf),
        lat_col="clat",
        lon_col="clon",
        level=30,
        out="cell_id2",
    )
    assert re_enc.filter(F.col("cell_id") != F.col("cell_id2")).count() == 0
