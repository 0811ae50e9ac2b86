"""Distributed connected components — dup-cluster resolution (ENGINE).

Near-duplicate detection (dedup.py: exact Jaccard / MinHash-LSH / SimHash
/ SRP) emits PAIRS; production dedup needs CLUSTERS — one canonical doc
per transitively-connected group. That closure is the one step in the
pipeline no single join can express.

Algorithm: the alternating large-star / small-star method (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
literature, cf. PAPERS.md), which converges in O(log n) rounds on ANY
graph shape, not O(diameter) like naive label propagation — at 10^12
docs a chain of pairwise near-dups (common with templated boilerplate)
would make propagation unbounded while star-alternation stays ~40 rounds
even at 2^40 nodes. Each round is two groupBy-min + join passes — plain
shuffles, no driver-side graph — and ends in ONE action, a
``localCheckpoint`` that truncates the iterative plan lineage (otherwise
Catalyst re-analyzes a geometrically growing tree). Convergence is an
exact (count, decimal-sum-of-xxhash64) fingerprint of the canonical edge
set, observed inside that same checkpoint job — decimal sum so ANSI mode
can't overflow.

Output: (node, component) with component = MIN node id of the component,
for every node incident to an edge; singletons never enter the edge set
and are handled by the caller's left join (see dup_clusters query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _canon(e: DataFrame) -> DataFrame:
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checkpoint(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Materialize canonical edges `e` in one action and return them with
    their (count, hash-sum) fingerprint, observed inside that action."""
    obs = Observation()
    e = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(cast(xxhash64(u, v) AS DECIMAL(38,0)))").alias("h"),
    ).localCheckpoint(eager=True)
    fp = obs.get
    return e, (fp["n"], fp["h"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> DataFrame:
    """(node, component) for all nodes of `edges`; component = min node.

    Near-dup edge sets are usually TINY next to the corpus (pairs, not
    pages), but each star round is several shuffles — at the session's
    default partition count the per-round fixed cost (task launch ×
    partitions × shuffles × rounds) dwarfs the actual work. The shuffle
    width is therefore sized from the observed edge count (~1 partition
    per 100k edges, capped at the session default) by swapping the
    session conf around the loop and restoring it afterwards; every action
    of this operator, including the final label materialization, runs
    inside the guarded block (the function returns a localCheckpoint).
    The swap is on the session, so for the call's duration it also
    applies to any concurrent action on that session.
    """
    spark = edges.sparkSession
    e, prev = _checkpoint(
        _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    )
    if prev[0] == 0:
        return e.select(F.col("u").alias("node"), F.col("v").alias("component"))

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    width = max(2, min(int(old_parts), prev[0] // 100_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        return _star_rounds(e, prev, max_rounds)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _star_rounds(e: DataFrame, prev: tuple, max_rounds: int) -> DataFrame:
    from s2cell_spark.plans.joins import broadcast_if_small

    # Both stars emit canonical edges (u > v, distinct) from canonical
    # input: large-star links v > u to m <= u, small-star links v to
    # m < v. So neither re-canonicalizes.
    for _ in range(max_rounds):
        # large-star: every neighbor v > u links to m = min(N(u) ∪ {u})
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        e = (
            sym.join(broadcast_if_small(m), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: every smaller neighbor (and u) links to the
        # neighborhood min
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e.join(broadcast_if_small(mins), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # the round's one action; an unchanged fingerprint is a fixed
        # point of both stars
        e, cur = _checkpoint(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_rounds} rounds")

    # converged: e is a set of min-rooted stars (u -> root); materialize
    # inside the caller's scoped-conf block
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
        .localCheckpoint(eager=True)
    )
