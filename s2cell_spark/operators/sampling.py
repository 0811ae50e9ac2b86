"""Deterministic splitting & sampling — the train/val/test machinery of a
training-data pipeline (ENGINE; no reference counterpart — the reference
is a geometry library, cf. /root/reference/README.rst:1-20; this module
covers the LLM-data-pipeline mandate alongside dedup/similarity).

hash_split, deterministic_sample, and weighted_sample are pure per-row
hash expressions: **map-only** — no shuffle, no UDF, no state — so at
10^12 docs they cost one codegen'd projection fused into whatever scan
already runs (stratified_split alone pays a rollup + ranked window for
its exact quotas; see its docstring for the skew decomposition).
Properties that matter in production and fall out of the hash design:

* **stable**: a doc's split/sample membership depends only on
  (id, salt) — re-runs, re-partitions, cluster-size changes, and
  incremental appends never reassign history (the reason `df.sample`
  or `rand()` is WRONG for train/test splits: both are
  partition-layout- and seed-plumbing-dependent);
* **disjoint + exhaustive**: split thresholds partition the 10k-bucket
  hash space by construction;
* **independent across salts**: changing the salt re-rolls membership —
  held-out evals draw fresh samples without touching the pipeline;
* **engine-portable**: the bucket is the dedup family's 31-bit md5
  prefix hash (operators.dedup.shingle_hash_expr spec), replicated
  verbatim in the DuckDB oracle, so the driver VALUE-checks assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s2cell_spark.functions.udfs import arrow_frame

BUCKETS = 10_000


def hash31(id_col: Column, salt: str = "") -> Column:
    """Raw 31-bit md5-prefix hash of ``id:salt`` (the dedup family's
    shingle_hash_expr spec). DuckDB mirror:
    ``CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), ':{salt}')),
    1, 8)) AS BIGINT) & 2147483647``."""
    key = F.concat(id_col.cast("string"), F.lit(":" + salt))
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit((1 << 31) - 1))
    )


def hash_bucket(id_col: Column, salt: str = "") -> Column:
    """Deterministic bucket in [0, 10000): :func:`hash31` mod 10000."""
    return hash31(id_col, salt) % F.lit(BUCKETS)


def hash_split(
    df: DataFrame,
    splits: "dict[str, int]",
    id_col: str = "doc_id",
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a split label from cumulative basis-point ranges,
    e.g. ``{"train": 9000, "val": 500, "test": 500}`` (must sum to
    10000). Map-only; label = first range containing the row's bucket."""
    if sum(splits.values()) != BUCKETS:
        raise ValueError(
            f"split weights must sum to {BUCKETS} basis points, got {splits}"
        )
    b = hash_bucket(F.col(id_col), salt)
    expr = None
    cum = 0
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        expr = (
            F.when(b < cum, name) if expr is None else expr.when(b < cum, name)
        )
    expr = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def stratified_split(
    df: DataFrame,
    splits: "dict[str, int]",
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
    out_col: str = "split",
    rank_buckets: int = 256,
    max_strata: int = 10_000,
) -> DataFrame:
    """EXACT per-stratum quotas: within every `strata_col` group the
    split sizes are exactly ``floor(n_g * bp / 10000)`` (remainder to the
    last split), assigned by hash rank — so a 0.1%-of-corpus language
    still lands 90/5/5, where :func:`hash_split` only hits quotas in
    expectation (binomial noise ~sqrt(n_g) — material for small strata).

    Exact quotas need each row's RANK within its stratum; a naive
    ``row_number() OVER (PARTITION BY stratum)`` funnels whole strata
    through single window partitions — at 10^12 docs the majority
    language serializes on one task. This is the classic distributed
    ranking decomposition instead:

    1. rows get a range bucket ``rb`` = high bits of the 31-bit hash
       (``rank_buckets`` contiguous hash ranges, uniformly filled);
    2. one tiny aggregate counts (stratum, rb) cells — bounded by
       n_strata * rank_buckets REGARDLESS of corpus size;
    3. the driver prefix-sums each stratum's bucket counts into offsets
       (same bounded-metadata-collect precedent as plans.bloom) and
       broadcasts them back as a literal frame;
    4. ``row_number`` runs per (stratum, rb) — rank_buckets-way parallel,
       balanced by hash uniformity — and the global rank is
       ``offset + local_rank``.

    Stability: like hash_split, assignment depends only on (id, salt,
    the stratum's membership) — NOT on partition layout. Unlike
    hash_split, appending rows DOES reshuffle ranks near quota
    boundaries (exact quotas are inherently append-sensitive); use
    hash_split when append-stability matters more than exactness.

    The driver collect in step 2-3 is bounded by
    ``n_strata * rank_buckets`` rows; ``max_strata`` caps it — exact
    quotas are for LOW-cardinality strata (language, domain bucket). A
    high-cardinality stratum (url prefix, raw domain) raises a clean
    ValueError pointing at :func:`hash_split`, which needs no quota
    metadata at any cardinality. NULL strata form their own stratum
    (null-safe join), matching SQL GROUP BY semantics.
    """
    if sum(splits.values()) != BUCKETS:
        raise ValueError(
            f"split weights must sum to {BUCKETS} basis points, got {splits}"
        )
    if rank_buckets & (rank_buckets - 1) or rank_buckets <= 0:
        raise ValueError(f"rank_buckets must be a power of two, got {rank_buckets}")
    from pyspark.sql import Window

    shift = 31 - (rank_buckets.bit_length() - 1)
    t = df.withColumn("_h", hash31(F.col(id_col), salt)).withColumn(
        "_rb", F.shiftright(F.col("_h"), shift)
    )
    # limit() bounds the driver-side collect; the +1 row is the overflow
    # sentinel that turns a too-wide stratum column into a clean error
    # instead of a multi-GB driver collect.
    cap = max_strata * rank_buckets
    counts = (
        t.groupBy(strata_col, "_rb")
        .agg(F.count("*").alias("_c"))
        .limit(cap + 1)
        .collect()
    )
    per: dict = {}
    for row in counts:
        per.setdefault(row[strata_col], []).append((row["_rb"], row["_c"]))
    if len(counts) > cap or len(per) > max_strata:
        raise ValueError(
            f"stratified_split: >{max_strata} distinct {strata_col!r} strata "
            "(driver quota metadata would be unbounded); use hash_split for "
            "high-cardinality strata or raise max_strata"
        )
    lit_rows = []
    for g, bl in per.items():
        bl.sort()
        n_g = sum(c for _, c in bl)
        off = 0
        for rb, c in bl:
            lit_rows.append((g, int(rb), off, n_g))
            off += c
    from pyspark.sql.types import LongType, StructField, StructType

    offs_schema = StructType(
        [
            StructField("_g", df.schema[strata_col].dataType, True),
            StructField("_rb2", LongType(), False),
            StructField("_off", LongType(), False),
            StructField("_n", LongType(), False),
        ]
    )
    offs = arrow_frame(df.sparkSession, lit_rows, offs_schema)
    # eqNullSafe so a NULL stratum matches its own quota row (a plain
    # `on=[strata_col, ...]` join silently drops every null-stratum row —
    # a split operator must label ALL rows).
    t = t.join(
        F.broadcast(offs),
        on=F.col(strata_col).eqNullSafe(F.col("_g"))
        & (F.col("_rb") == F.col("_rb2")),
        how="inner",
    ).drop("_g", "_rb2")
    w = Window.partitionBy(strata_col, "_rb").orderBy("_h", id_col)
    rank = F.col("_off") + F.row_number().over(w) - 1  # 0-based stratum rank
    expr = None
    cum = 0
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        thr = F.expr(f"(_n * {cum}) div {BUCKETS}")
        cond = rank < thr
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return t.withColumn(out_col, expr).drop("_h", "_rb", "_off", "_n")


def deterministic_sample(
    df: DataFrame, rate_bp: int, id_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep rows whose hash bucket < rate_bp (rate in basis points of
    10000). Unlike ``df.sample``, membership is a pure function of
    (id, salt): stable across re-runs, partitionings, and appends."""
    if not 0 <= rate_bp <= BUCKETS:
        raise ValueError(f"rate_bp must be in [0, {BUCKETS}], got {rate_bp}")
    return df.filter(hash_bucket(F.col(id_col), salt) < rate_bp)


def weighted_sample(
    df: DataFrame,
    weight_bp_col: str,
    rate_bp: int = BUCKETS,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-row Bernoulli keep with probability
    ``(weight_bp / 10000) * (rate_bp / 10000)`` — the static-mixture
    sampling step of a training-data pipeline (quality-weighted
    up/down-sampling: docs carry an integer per-row weight in basis
    points, e.g. from ``textstats.quality_score_col`` rescaled, and the
    corpus-wide ``rate_bp`` scales the whole mixture).

    Same contract as :func:`deterministic_sample` (pure f(id, salt):
    map-only, layout-invariant, append-stable, salt re-rolls) but the
    threshold is a COLUMN, so every row carries its own keep
    probability. The keep rule is all-integer at 24-bit hash resolution
    (≈16.7M probability levels): keep iff
    ``(hash31 >> 7) * 10^8 < weight_bp * rate_bp * 2^24``. Both sides
    stay < 2^51 for weight_bp <= 10^4, so the comparison is pure int64
    on both engines and a DuckDB oracle replicates membership exactly
    (DuckDB raises on int64 overflow rather than wrapping — the repo
    invariant — and this form never overflows).

    A weight of 10000 bp keeps the row with probability rate_bp/10000
    (== deterministic_sample); 20000 bp is clamp-kept (probability 1 at
    full rate — static upsampling beyond 1x is repetition, use
    ``explode(sequence(...))`` on ``weight_bp // 10000`` for that).
    """
    if not 0 <= rate_bp <= BUCKETS:
        raise ValueError(f"rate_bp must be in [0, {BUCKETS}], got {rate_bp}")
    h7 = F.shiftright(hash31(F.col(id_col), salt), 7)  # 24-bit
    lhs = h7 * F.lit(BUCKETS * BUCKETS)  # < 2^51
    rhs = F.col(weight_bp_col).cast("long") * F.lit(int(rate_bp) << 24)
    return df.filter(lhs < rhs)
