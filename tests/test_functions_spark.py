"""t2 — the Spark function surface (native exprs + pandas UDFs) against the
reference corpora, loaded through DataFrames. Sampled to keep CI fast; the
full-corpus pass runs in t1 on the raw kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2cell_spark import functions as S2F

N_SAMPLE = 8000


@pytest.fixture(scope="module")
def corpus_df(spark, encode_corpus):
    lat, lon, level, cell_id, token = encode_corpus
    rng = np.random.default_rng(42)
    idx = rng.choice(len(lat), N_SAMPLE, replace=False)
    pdf = pd.DataFrame(
        {
            "lat": lat[idx],
            "lon": lon[idx],
            "level": level[idx].astype(np.int32),
            "cell_id": cell_id[idx].view(np.int64),
            "token": token[idx],
        }
    )
    return spark.createDataFrame(pdf).cache(), pdf


def test_encode_udf_matches_corpus(corpus_df):
    df, pdf = corpus_df
    out = (
        df.withColumn("got", S2F.lat_lon_to_cell_id(F.col("lat"), F.col("lon"), F.col("level")))
        .select("cell_id", "got")
        .toPandas()
    )
    assert (out["got"] == out["cell_id"]).all()


def test_token_expr_matches_corpus(corpus_df):
    df, pdf = corpus_df
    out = df.select(
        "token",
        S2F.cell_id_to_token(F.col("cell_id")).alias("tok_expr"),
        S2F.token_to_cell_id(F.col("token")).alias("cid_expr"),
        "cell_id",
    ).toPandas()
    assert (out["tok_expr"] == out["token"]).all()
    assert (out["cid_expr"] == out["cell_id"]).all()


def test_level_parent_validity_exprs(corpus_df, ref_s2cell):
    df, pdf = corpus_df
    out = df.select(
        "cell_id",
        "level",
        S2F.cell_id_to_level(F.col("cell_id")).alias("lvl_expr"),
        S2F.cell_id_is_valid(F.col("cell_id")).alias("valid"),
        S2F.cell_id_to_parent_cell_id(F.col("cell_id"), 3).alias("parent3"),
        S2F.cell_id_range_min(F.col("cell_id")).alias("rmin"),
        S2F.cell_id_range_max(F.col("cell_id")).alias("rmax"),
        S2F.cell_id_sortable(F.col("cell_id")).alias("sortable"),
    ).toPandas()
    assert (out["lvl_expr"] == out["level"]).all()
    assert out["valid"].all()
    has3 = out["level"] >= 3
    # parent-3 vs reference on the rows that have a level-3 ancestor
    sub = out[has3]
    ref_parent = [
        ref_s2cell.cell_id_to_parent_cell_id(int(np.int64(c).astype(np.uint64)), 3)
        for c in sub["cell_id"]
    ]
    got_parent = [int(np.int64(c).astype(np.uint64)) for c in sub["parent3"]]
    assert got_parent == ref_parent
    assert out.loc[~has3, "parent3"].isna().all()
    # range containment: rmin <= id <= rmax in uint64 (=> sortable order)
    u = out["cell_id"].to_numpy(np.int64).view(np.uint64)
    lo = out["rmin"].to_numpy(np.int64).view(np.uint64)
    hi = out["rmax"].to_numpy(np.int64).view(np.uint64)
    assert ((lo <= u) & (u <= hi)).all()
    # sortable preserves uint64 order
    srt = out["sortable"].to_numpy(np.int64)
    order_u = np.argsort(u, kind="stable")
    order_s = np.argsort(srt, kind="stable")
    assert (order_u == order_s).all()


def test_decode_udf_tolerance(spark, decode_corpus):
    cell_id, token, lat, lon, level = decode_corpus
    rng = np.random.default_rng(5)
    idx = rng.choice(len(cell_id), 4000, replace=False)
    pdf = pd.DataFrame(
        {
            "cell_id": cell_id[idx].view(np.int64),
            "lat": lat[idx],
            "lon": lon[idx],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        df.withColumn("ll", S2F.cell_id_to_lat_lon(F.col("cell_id")))
        .select("lat", "lon", F.col("ll.lat").alias("glat"), F.col("ll.lon").alias("glon"))
        .toPandas()
    )
    np.testing.assert_allclose(out["glat"], out["lat"], rtol=0, atol=1e-12)
    np.testing.assert_allclose(out["glon"], out["lon"], rtol=0, atol=1e-12)


def test_null_and_invalid_conventions(spark):
    pdf = pd.DataFrame(
        {
            # face-6 id (6<<61|1) expressed as the int64 two's-complement value
            "cell_id": pd.array([1, 0, (6 << 61 | 1) - (1 << 64), None, 2], dtype="Int64"),
            "tok": ["3", "zzz", None, "X", "12345678901234567"],
            "lat": [45.0, None, 91.0, 10.0, 10.0],
            "lon": [9.0, 3.0, 3.0, None, 10.0],
            "level": pd.array([12, 12, 12, 12, 99], dtype="Int32"),
        }
    )
    df = spark.createDataFrame(pdf)
    out = df.select(
        S2F.cell_id_to_level(F.col("cell_id")).alias("lvl_expr"),
        S2F.token_to_cell_id(F.col("tok")).alias("tok_cid_expr"),
        S2F.lat_lon_to_cell_id(F.col("lat"), F.col("lon"), F.col("level")).alias("enc"),
        S2F.cell_id_to_lat_lon(F.col("cell_id")).alias("ll"),
    ).toPandas()
    # cell_id 1 is a valid leaf; 0, face-6 and null are not; 2 has odd lsb
    assert out["lvl_expr"].iloc[0] == 30 and pd.isna(out["lvl_expr"]).tolist() == [False] + [True] * 4
    # token 'zzz' malformed, 'X' -> 0, 17-char -> null
    assert pd.isna(out["tok_cid_expr"]).tolist() == [False, True, True, False, True]
    assert out["tok_cid_expr"].iloc[3] == 0
    # encode: null lat / null lon / level 99 -> null
    assert pd.isna(out["enc"]).tolist() == [False, True, False, True, True]
    # decode struct: invalid ids -> null members
    assert pd.isna(out["ll"].iloc[1]["lat"]) and pd.isna(out["ll"].iloc[2]["lat"])


def test_neighbors_udf_vs_reference(spark, ref_s2cell):
    rng = np.random.default_rng(31)
    lat = rng.uniform(-90, 90, 200)
    lon = rng.uniform(-180, 180, 200)
    from s2cell_spark import kernels as K

    ids = K.lat_lon_to_cell_id(lat, lon, rng.integers(0, 31, 200))
    pdf = pd.DataFrame({"cell_id": ids.view(np.int64)})
    df = spark.createDataFrame(pdf)
    out = df.select(
        "cell_id", S2F.neighbor_cell_ids(F.col("cell_id"), edge=True, corner=True).alias("nbrs")
    ).toPandas()
    for cid, nbrs in zip(out["cell_id"], out["nbrs"]):
        want = ref_s2cell.cell_id_to_neighbor_cell_ids(
            int(np.int64(cid).astype(np.uint64)), edge=True, corner=True
        )
        assert [int(np.int64(x).astype(np.uint64)) for x in nbrs] == want


def test_sql_registration(spark):
    S2F.register_sql_functions(spark)
    row = spark.sql(
        "SELECT s2_cell_id_to_token(s2_lat_lon_to_cell_id(45.0D, 9.0D, 12)) AS tok"
    ).collect()[0]
    # expectation generated from the reference: s2cell.lat_lon_to_token(45, 9, 12)
    assert row["tok"] == "47873ef"


def test_nullable_long_batch_does_not_corrupt(spark):
    """A LongType batch containing a null arrives in pandas as float64,
    destroying bits above 2^53 — the Column API must still return exact
    results for the valid rows sharing the batch (regression: it used to
    silently emit the token of the wrong cell). The Arrow UDFs carry the
    check: exact leaf i/j and the decoded center; token and level come
    from the native exprs on the same rows."""
    import numpy as np

    from s2cell_spark import functions as S2F
    from s2cell_spark import kernels as K

    big = 4611686018427400249  # odd leaf id, > 2^53
    df = spark.createDataFrame([(big,), (None,)], "cid long").coalesce(1)
    got = {
        r["cid"]: (
            r["tok"],
            r["lvl"],
            (r["ll"]["lat"] if r["ll"] else None),
            (tuple(r["fij"]) if r["fij"] else None),
        )
        for r in df.select(
            "cid",
            S2F.cell_id_to_token(F.col("cid")).alias("tok"),
            S2F.cell_id_to_level(F.col("cid")).alias("lvl"),
            S2F.cell_id_to_lat_lon(F.col("cid")).alias("ll"),
            S2F.s2_cell_id_to_face_ij(F.col("cid")).alias("fij"),
        ).collect()
    }
    cell = np.array([big], dtype=np.uint64)
    want_tok = K.cell_id_to_token(cell)[0]
    want_lat = K.cell_id_to_lat_lon(cell)[0][0]
    want_fij = tuple(int(a[0]) for a in K.cell_id_to_face_ij(cell))
    assert got[big][0] == want_tok
    assert got[big][1] == 30
    assert abs(got[big][2] - want_lat) < 1e-12
    assert got[big][3] == want_fij
    assert got[None] == (None, None, None, None)


def test_face_ij_out_of_range_is_null(spark):
    from s2cell_spark import functions as S2F

    df = spark.createDataFrame(
        [(0, 2**40, 0), (0, -5, 0), (0, 5, 5)], "face long, i long, j long"
    )
    out = df.select(
        S2F.s2_face_ij_to_cell_id(
            F.col("face"), F.col("i"), F.col("j"), F.lit(30)
        ).alias("cid")
    ).collect()
    assert out[0]["cid"] is None and out[1]["cid"] is None
    assert out[2]["cid"] is not None


def test_range_min_invalid_is_null_not_error(spark):
    """token '8' decodes to LONG_MIN (well-formed, invalid): range_min
    must yield null under ANSI mode, not ArithmeticException."""
    from s2cell_spark import functions as S2F

    df = spark.createDataFrame([("8",), ("1",)], "tok string")
    rows = df.select(
        S2F.cell_id_range_min(S2F.token_to_cell_id(F.col("tok"))).alias("rmin")
    ).collect()
    assert rows[0]["rmin"] is None
    assert rows[1]["rmin"] is not None


def test_native_sql_functions_match_exprs_and_stay_native(spark):
    """The SQL-registered bit/token surface is generated FROM the
    Catalyst exprs — outputs must match the Column API on a frame
    covering all faces + invalid IDs + malformed tokens, and a pure-SQL
    query over them must contain no Python eval node."""
    from s2cell_spark import functions as S2F
    from s2cell_spark.functions.udfs import register_sql_functions

    register_sql_functions(spark)
    cells = [
        1152921504606846977, 3458764513820540928, -9223372036854775808 + 1,
        -3458764513820540928, 0, 7, 42, 2305843009213693952, 1,
    ]
    toks = ["3", "e66ef376f790adf8", "ABC0", "x", "", "zzz", "89c25"]
    df = spark.createDataFrame([(c,) for c in cells], "cid long")
    df.createOrReplaceTempView("cells_v")
    got = spark.sql(
        """
        SELECT s2_cell_id_is_valid(cid) AS v, s2_cell_id_to_level(cid) AS l,
               s2_cell_id_to_parent_cell_id(cid, 2) AS p,
               s2_cell_id_range_min(cid) AS rmin, s2_cell_id_range_max(cid) AS rmax,
               s2_cell_id_sortable(cid) AS srt, s2_cell_id_to_token(cid) AS t
        FROM cells_v
        """
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, "SQL bit/token functions fell back to Python"
    want = df.select(
        S2F.cell_id_is_valid(F.col("cid")).alias("v"),
        S2F.cell_id_to_level(F.col("cid")).alias("l"),
        S2F.cell_id_to_parent_cell_id(F.col("cid"), 2).alias("p"),
        S2F.cell_id_range_min(F.col("cid")).alias("rmin"),
        S2F.cell_id_range_max(F.col("cid")).alias("rmax"),
        S2F.cell_id_sortable(F.col("cid")).alias("srt"),
        S2F.cell_id_to_token(F.col("cid")).alias("t"),
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    tdf = spark.createDataFrame([(t,) for t in toks], "tok string")
    tdf.createOrReplaceTempView("toks_v")
    got_t = spark.sql(
        """
        SELECT s2_token_to_cell_id(tok) AS c, s2_token_is_valid(tok) AS v,
               s2_token_to_level(tok) AS l, s2_token_to_parent_token(tok, 1) AS p,
               s2_token_to_canonical_token(tok) AS canon
        FROM toks_v
        """
    )
    want_t = tdf.select(
        S2F.token_to_cell_id(F.col("tok")).alias("c"),
        S2F.token_is_valid(F.col("tok")).alias("v"),
        S2F.token_to_level(F.col("tok")).alias("l"),
        S2F.token_to_parent_token(F.col("tok"), 1).alias("p"),
        S2F.token_to_canonical_token(F.col("tok")).alias("canon"),
    )
    assert [tuple(r) for r in got_t.collect()] == [tuple(r) for r in want_t.collect()]


def test_canonical_token_strips_all_whitespace(spark):
    from s2cell_spark import functions as S2F

    # incl. Unicode whitespace (NBSP, ideographic space) and the \x1c-\x1f
    # separators: Python str.strip() — the reference behavior — strips all
    # of these, while Java \s (even with (?U)) does not
    toks = ["\t2ef0\n", "  X ", "\xa02ef0\xa0", "\x1c3\x1f", "　5　"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = [r["c"] for r in df.select(S2F.token_to_canonical_token(F.col("tok")).alias("c")).collect()]
    def ref(t: str) -> str:  # s2cell/s2cell.py:805-837 semantics
        s = t.strip().lower().rstrip("0")
        return "X" if s in ("", "x") else s

    assert got == [ref(t) for t in toks]


def test_one_spark_implementation_per_function(spark, monkeypatch):
    """Each S2 function has one Spark form. The Arrow UDFs the package
    exports are exactly the ones ``register_sql_functions`` binds as
    Python UDFs (the float-math kernels); every bit/token operation is a
    native Catalyst expr only, and the decode has no native twin."""
    from pyspark.sql.udf import UDFRegistration

    from s2cell_spark.functions import native_encode

    registered = []
    register = UDFRegistration.register

    def recording(self, name, f, *args, **kwargs):
        registered.append(name)
        return register(self, name, f, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "register", recording)
    S2F.register_sql_functions(spark)
    monkeypatch.undo()

    exported = {
        getattr(S2F, n).__name__ for n in S2F.__all__ if hasattr(getattr(S2F, n), "evalType")
    }
    five = {
        "s2_lat_lon_to_cell_id",
        "s2_cell_id_to_lat_lon",
        "s2_neighbor_cell_ids",
        "s2_cell_id_to_face_ij",
        "s2_face_ij_to_cell_id",
    }
    assert sorted(registered) == sorted(five)
    assert exported == five, sorted(exported - five)
    assert not hasattr(native_encode, "with_lat_lon")
