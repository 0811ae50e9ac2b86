"""Bloom-filter-pruned shuffle joins (ENGINE plan helper, SURVEY §2.2).

The middle ground between the two join regimes the engine already has:

* dim small  -> ``plans.joins.broadcast_if_small`` (zero fact shuffle);
* dim huge   -> plain shuffle join (both sides exchange).

When the dim is too big to broadcast AS A HASH TABLE but its KEY SET fits
a compact bitset — e.g. 10^8 join keys ≈ 180 MB of bloom at 1% FP vs tens
of GB of rows — pruning the fact BEFORE its exchange trades a few ns of
bit probing per row for shuffle bytes, which is the scarce resource at
100 TB (a fact row that cannot match should never cross the wire).

Design, kept parity-safe and vectorized:

* the k bit POSITIONS are computed NATIVELY on both sides with the same
  ``xxhash64(lit(i), key) & (m-1)`` exprs — build and probe run the same
  JVM function, so false negatives are impossible by construction;
* the build side aggregates per-partition partial bitmaps with the native
  ``bit_or`` of ``shiftleft(1L, pos % 64)`` grouped by word index — only
  ``m/64`` longs ever reach the driver, independent of dim row count;
* the probe is ONE Arrow UDF doing pure numpy bitset lookups against
  an ``sc.broadcast`` word array (ships once per executor, never per
  task).

Result rows are identical to the plain join (the join itself removes the
bloom's false positives) — asserted in tests, and the oracle for the
driver query is the plain SQL join.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2cell_spark.functions.udfs import arrow_to_numpy, numpy_to_arrow


def _positions(key_col: str, num_bits: int, num_hashes: int) -> list:
    """k independent native hash positions in [0, num_bits). Independent
    seeded xxhash64 calls rather than h1 + i*h2 double hashing: the add/
    multiply form can overflow int64, which is an ERROR under Spark 4's
    default ANSI mode; a bitwise mask cannot."""
    assert num_bits & (num_bits - 1) == 0, "num_bits must be a power of two"
    return [
        F.xxhash64(F.lit(i), F.col(key_col)).bitwiseAND(F.lit(num_bits - 1))
        for i in range(num_hashes)
    ]


def build_key_bloom(
    dim: DataFrame, key_col: str, num_bits: int = 1 << 20, num_hashes: int = 5
) -> np.ndarray:
    """Distributed bloom build over the dim's key column.

    Returns the ``num_bits/64`` uint64 word array. Size the filter with
    the standard m ≈ -n·ln(p)/ln(2)² (n keys, target FP rate p);
    num_hashes ≈ 0.7·m/n. The driver only ever holds the words, not keys.
    """
    pos = F.explode(F.array(*_positions(key_col, num_bits, num_hashes))).alias("pos")
    rows = (
        dim.select(pos)
        .select(
            F.shiftright(F.col("pos"), 6).alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = np.zeros(num_bits >> 6, dtype=np.int64)
    for r in rows:
        words[r["w"]] = r["word"]
    return words.view(np.uint64)


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    how: str = "inner",
) -> DataFrame:
    """Shuffle join with the fact side bloom-pruned before its exchange.

    The dim carries a SHUFFLE_HASH hint: the whole point of this path is
    that the dim is NOT broadcastable, so the plan must be a shuffle join
    with the (pruned) fact exchange above the bloom probe — pinned in
    tests/test_plans.py.

    Only ``inner`` and ``semi`` joins are legal here: the bloom removes
    fact rows BEFORE the join, so an outer join would silently drop fact
    rows that should surface null-extended — the same degeneration
    interval_join refuses."""
    if how not in ("inner", "semi", "left_semi", "leftsemi"):
        raise ValueError(
            f"bloom_pruned_join supports how='inner'/'semi' only, got {how!r}: "
            "the pre-join bloom prune drops unmatched fact rows, which an "
            "outer join is contractually required to keep (null-extended)."
        )
    words = build_key_bloom(dim, on, num_bits=num_bits, num_hashes=num_hashes)
    bc = fact.sparkSession.sparkContext.broadcast(words)
    shift_mask = np.uint64(1)

    @F.arrow_udf("boolean")
    def might_contain(*pos_cols: pa.Array) -> pa.Array:
        w = bc.value
        out = None
        for p in pos_cols:
            pn, _ = arrow_to_numpy(p, np.int64)
            hit = ((w[pn >> 6] >> (pn & 63).astype(np.uint64)) & shift_mask).astype(bool)
            out = hit if out is None else out & hit
        return numpy_to_arrow(out)

    # The probe IS deterministic, but advertised nondeterministic on
    # purpose: InferFiltersFromConstraints would otherwise copy the
    # predicate through the join-key equality onto the DIM side, where it
    # prunes nothing (every dim key is in its own bloom) and costs a full
    # extra UDF pass. Nondeterministic predicates are never inferred or
    # reordered, and the filter is already hand-placed exactly where it
    # belongs: above the fact scan, below the fact exchange.
    probe = might_contain.asNondeterministic()
    pruned = fact.filter(probe(*_positions(on, num_bits, num_hashes)))
    return pruned.join(dim.hint("shuffle_hash"), on=on, how=how)
