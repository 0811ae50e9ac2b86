"""Deduplication operators for web-scale training-data pipelines.

* exact duplicate groups — md5(text) hash groupBy (native, one shuffle on
  the hash; map-side combine),
* word-set Jaccard near-dup pairs — exact, via shared-word equi-join +
  integer-basis-point Jaccard (SQL-replicable in DuckDB for the oracle),
* MinHash + LSH banding — the scale path: constant-size signature per doc,
  band-bucket equi-join generates candidates WITHOUT the all-pairs
  shared-word blowup; candidates then verify with exact Jaccard. Output =
  verified subset (probabilistic recall, tested with tolerance). The whole
  pipeline — 31-bit md5 shingle hash, Carter-Wegman perms mod 2^31-1, band
  buckets — is exact int64 arithmetic replicated verbatim in the DuckDB
  oracle, so the driver VALUE-checks it despite being an LSH method,
* SimHash fingerprints — 64 per-bit integer majority votes over md5 word
  hashes, expressed entirely in native Spark aggregates (and replicated
  textually in the DuckDB oracle).

Tokenization spec shared by everything here: lowercase, split on
``[^a-z0-9]+``, drop empties. DuckDB mirror:
``regexp_split_to_array(lower(text), '[^a-z0-9]+')``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WORD_SPLIT_RE = "[^a-z0-9]+"


def words_col(text=None):
    """Array of tokens per the shared tokenization spec."""
    src = F.col("text") if text is None else text
    return F.filter(F.split(F.lower(src), WORD_SPLIT_RE), lambda w: w != "")


def shingles_from_words(ws, n: int = 3):
    """n-word shingles (space-joined) from a words-array expression.

    Built from n shifted ``slice``s folded with ``zip_with`` — whole-array
    ops that evaluate `ws` O(n) times per row. The naive form (transform
    over an index sequence with element_at per position) evaluates `ws`
    per ELEMENT: CollapseProject re-inlines the words expression into the
    lambda, codegen does not common-subexpression-eliminate through
    lambdas, and the regex split re-runs O(words * n) times per document
    (measured 9s -> 0.5s on 5000 docs for this one change)."""
    sz = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    out = F.slice(ws, 1, sz)
    for k in range(1, n):
        out = F.zip_with(
            out, F.slice(ws, k + 1, sz), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


def ensure_split(df: DataFrame) -> DataFrame:
    """Repartition to full parallelism when the source is under-split (a
    single-row-group parquet file otherwise serializes all per-row work
    onto one task — at 100 TB file counts provide the splits and the
    guard is a no-op). Call on a NARROW projection so the shuffle moves
    only the needed columns."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingled_docs(
    docs: DataFrame, id_col: str = "doc_id", max_df: int | None = None,
    n: int = 3,
) -> DataFrame:
    """(doc, ws) with ws = DISTINCT n-gram shingle set (default 3),
    docs with >= 1 shingle.

    ``max_df`` applies a document-frequency cap: shingles appearing in
    more than `max_df` docs are removed from every doc's set BEFORE any
    pairing (one pre-aggregate ``groupBy(shingle).count`` + a
    co-partitioned filter join — the count exchange is reused, then the
    per-doc arrays are rebuilt). On Zipf-skewed web text boilerplate
    shingles ("all rights reserved ...") reach DF in the millions, and
    every downstream shared-shingle pairing is O(DF^2) per shingle — the
    cap is what keeps exact-Jaccard linear at corpus scale, while leaving
    high-Jaccard pairs intact (near-dup pairs share mostly LOW-DF
    shingles). Semantics: Jaccard over the CAPPED shingle sets (sizes and
    intersections both exclude dropped shingles); docs whose every
    shingle is dropped vanish, as with no-shingle docs."""
    narrow = ensure_split(docs.select(F.col(id_col).alias("doc"), F.col("text")))
    sets = (
        narrow.select("doc", words_col().alias("wsa"))
        .select(
            "doc",
            F.array_distinct(shingles_from_words(F.col("wsa"), n)).alias("ws"),
        )
        .filter(F.size("ws") > 0)
    )
    if max_df is None:
        return sets
    return apply_df_cap(sets, max_df)


def apply_df_cap(sets: DataFrame, max_df: int) -> DataFrame:
    """The document-frequency cap of :func:`shingled_docs` over an
    ALREADY-SHINGLED (doc, ws) frame — lets a caller running several
    dedup strategies over one corpus (e.g. the dup_clusters jaccard +
    minhash arms) parse/shingle ONCE, persist the wsets frame, and
    derive the capped sets from the cache instead of a second scan.
    Cap semantics identical to shingled_docs(max_df=...)."""
    dw = sets.select("doc", F.explode("ws").alias("w"))
    # anti-join against the HOT set, not an equi-join against the kept
    # set: hot shingles (df > cap) are FEW at any corpus size by
    # construction — a broadcastable anti-join — while the kept set is
    # ~all shingles (billions at web scale, never broadcastable).
    # This plan scans+parses the corpus twice (the hot-set aggregate and
    # the main pipeline don't share a reusable exchange) — DELIBERATE:
    # the one-scan alternatives are worse at 10^12 docs. A window count
    # over w has no partial aggregation, so the hottest shingle's 10^9
    # rows land in ONE task — a straggler on exactly the keys being
    # capped; persisting the exploded (doc, shingle) frame caches an
    # intermediate LARGER than the corpus. A second parse is linear,
    # embarrassingly parallel, and skew-free.
    hot = dw.groupBy("w").agg(F.count("*").alias("df_w")).filter(
        F.col("df_w") > max_df
    )
    return (
        dw.join(hot.select("w"), on="w", how="left_anti")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list("w")).alias("ws"))
    )


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(text_md5, n_docs, min_doc_id) per distinct text — group sizes >1
    are exact duplicates; min id is the canonical keeper."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def jaccard_pairs_exact(
    docs: DataFrame, threshold_bp: int, id_col: str = "doc_id",
    max_df: int | None = None, wsets: DataFrame | None = None,
) -> DataFrame:
    """All doc pairs (a < b) with 3-gram-shingle-SET Jaccard >= threshold
    (basis points; floor of double division — identical in DuckDB).

    ONE scan of the corpus (the text parse is the expensive part — a
    self-join formulation would recompute it per join side), two shuffles:
    each doc's set size rides along with its exploded shingles, docs
    sharing a shingle group into a sorted list, pair combinations unfold
    natively, and a final pair-key aggregate counts intersections —
    sizes arrive with the pairs, so no sizes join at the end.

    Shingle keys are Zipf-skewed and the pair unfold is O(DF^2) per
    shingle — at web scale ALWAYS set ``max_df`` (document-frequency cap,
    see :func:`shingled_docs`): it drops boilerplate shingles before any
    pairing, keeping the pair count linear in the corpus. Default off so
    the uncapped result stays the exact full-set Jaccard.
    """
    if wsets is None:
        base = shingled_docs(docs, id_col, max_df=max_df)
    else:
        # precomputed (doc, ws) — typically persisted by a caller sharing
        # the parse across strategies; cap applies on top of it
        base = wsets if max_df is None else apply_df_cap(wsets, max_df)
    dw = base.select("doc", F.size("ws").alias("sz"), F.explode("ws").alias("w"))
    per_s = dw.groupBy("w").agg(
        F.array_sort(F.collect_list(F.struct("doc", "sz"))).alias("ds")
    )
    # two-step pair unfold: posexplode the doc list, then explode each
    # element's suffix. Per-row array size stays O(D) for a shingle in D
    # docs — a single flattened all-pairs array would be O(D^2) in ONE
    # row, a hard task-memory/2^31-element cliff on Zipf-hot shingles.
    ex = per_s.select(F.col("ds"), F.posexplode("ds").alias("i", "x"))
    pairs = ex.select(
        F.col("x.doc").alias("doc_a"),
        F.col("x.sz").alias("sz_a"),
        F.explode(F.slice(F.col("ds"), F.col("i") + F.lit(2), F.size("ds"))).alias("y"),
    ).select("doc_a", "sz_a", F.col("y.doc").alias("doc_b"), F.col("y.sz").alias("sz_b"))
    agg = pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("long").alias("inter"),
        F.first("sz_a").cast("long").alias("sz_a"),
        F.first("sz_b").cast("long").alias("sz_b"),
    )
    return (
        agg.withColumn(
            "jacc_bp",
            F.floor(
                (F.lit(10000) * F.col("inter")).cast("long")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("long"),
        )
        .filter(F.col("jacc_bp") >= threshold_bp)
        .select("doc_a", "doc_b", "jacc_bp")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Carter-Wegman permutations over a 31-bit hash space: every intermediate
# (a*h + b with a, b, h < 2^31) stays below 2^62, so the whole signature is
# exact in ANSI signed-int64 arithmetic — Spark natively (JVM codegen, no
# Python in the hot path) AND verbatim in the DuckDB oracle.
MINHASH_PRIME = (1 << 31) - 1


def minhash_params(num_perm: int = 64, seed: int = 7) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) permutation params as plain ints — generated by
    a fixed LCG so the Spark exprs and the oracle SQL embed identical
    literals (no RNG-library dependence)."""
    a, b, state = [], [], seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a.append((state >> 33) % (MINHASH_PRIME - 1) + 1)
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b.append((state >> 33) % MINHASH_PRIME)
    return a, b


def shingle_hash_expr(col: str = "s"):
    """31-bit shingle hash: top 8 hex chars of md5, masked. DuckDB mirror:
    ``CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) & 2147483647``."""
    return (
        F.conv(F.substring(F.md5(F.col(col)), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(MINHASH_PRIME))
    )


def minhash_signatures(
    docs: DataFrame, num_perm: int = 64, id_col: str = "doc_id",
    wsets: DataFrame | None = None,
) -> DataFrame:
    """(doc, m0..m{num_perm-1}) MinHash signature — one explode of the
    doc's 3-gram shingles, then `num_perm` min-aggregates (map-side
    partial mins; the only shuffle is the per-doc groupBy). Docs with < 3
    words have no shingles, hence no signature row and never pair."""
    a, b = minhash_params(num_perm)
    base = shingled_docs(docs, id_col) if wsets is None else wsets
    sh = base.select("doc", F.explode("ws").alias("s"))
    h = shingle_hash_expr("s")
    mins = [
        F.min((F.lit(a[i]) * h + F.lit(b[i])) % F.lit(MINHASH_PRIME)).alias(f"m{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy("doc").agg(*mins)


def minhash_banded(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    wsets: DataFrame | None = None,
) -> DataFrame:
    """(doc, band, bucket) LSH banding rows — the per-doc state an
    INCREMENTAL dedup pipeline persists between micro-batches (see
    streaming.dedupstream): a new doc's candidates are one equi-join of
    its banding rows against this table, never a recompute of the corpus.
    The bucket key is the signature slice's comma-joined decimal string
    (engine-portable, unlike a murmur hash)."""
    rows_per_band = num_perm // bands
    sig = minhash_signatures(docs, num_perm, id_col, wsets=wsets)
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"m{bi * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    wsets: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: equal signature slice in
    any band -> candidate. One explode (x bands, constant factor) + one
    equi-join on (band, bucket) — scales linearly, no all-pairs term."""
    banded = minhash_banded(docs, num_perm, bands, id_col, wsets=wsets)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    threshold_bp: int = 5000,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    wsets: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard (computed
    only on the candidate pairs via array intersection — no shared-shingle
    join)."""
    cand = minhash_lsh_candidates(docs, num_perm, bands, id_col, wsets=wsets)
    if wsets is None:
        wsets = shingled_docs(docs, id_col)
    return verify_candidate_pairs(cand, wsets, threshold_bp)


def verify_candidate_pairs(cand: DataFrame, wsets: DataFrame, threshold_bp: int) -> DataFrame:
    """(doc_a, doc_b, jacc_bp) of the candidate (doc_a, doc_b) pairs whose
    exact shingle-set Jaccard, in floored basis points, reaches
    `threshold_bp`. `wsets` is (doc, ws); each pair joins it twice and
    intersects the two arrays — no shared-shingle join."""

    def side(s: str) -> DataFrame:
        return wsets.select(F.col("doc").alias(f"doc_{s}"), F.col("ws").alias(f"ws_{s}"))

    joined = cand.join(side("a"), on="doc_a").join(side("b"), on="doc_b")
    # cast BEFORE the multiply: size() is int32 and 10000 * inter wraps
    # past ~214k shared shingles (real for long near-dup docs at scale)
    inter = F.size(F.array_intersect("ws_a", "ws_b")).cast("long")
    union = F.size("ws_a").cast("long") + F.size("ws_b").cast("long") - inter
    return (
        joined.withColumn("jacc_bp", F.floor(F.lit(10000) * inter / union).cast("long"))
        .filter(F.col("jacc_bp") >= threshold_bp)
        .select("doc_a", "doc_b", "jacc_bp")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_bit_exprs() -> list:
    """64 aggregate exprs: per-bit counts of set bits across a doc's word
    hashes. Word hash = first 16 hex chars of md5(word) as uint64, built
    from two 8-char conv() halves (Spark conv is native; DuckDB mirrors via
    cast(concat('0x', ...) as bigint))."""
    h_hi = F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
    h_lo = F.conv(F.substring(F.md5(F.col("w")), 9, 8), 16, 10).cast("long")
    h = F.shiftleft(h_hi, 32).bitwiseOR(h_lo)
    return [
        F.sum(F.shiftrightunsigned(h, bit).bitwiseAND(F.lit(1))).alias(f"b{bit}")
        for bit in range(64)
    ] + [F.count("*").alias("n_words")]


def simhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash) — bit j set iff more than half the doc's word
    occurrences (duplicates counted) have bit j set in md5-64(word).

    Entirely native: explode words -> 65 hash aggregates -> fold the 64
    majority votes back into one long. Ties (exactly half) -> 0.
    """
    narrow = ensure_split(docs.select(F.col(id_col).alias("doc_id"), F.col("text")))
    exploded = narrow.select("doc_id", F.explode(words_col()).alias("w"))
    agg = exploded.groupBy("doc_id").agg(*simhash_bit_exprs())
    fp = F.lit(0).cast("long")
    for bit in range(64):
        vote = (F.col(f"b{bit}") * 2 > F.col("n_words")).cast("long")
        fp = fp.bitwiseOR(F.shiftleft(vote, bit))
    return agg.select("doc_id", fp.alias("simhash"))
