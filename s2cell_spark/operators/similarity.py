"""Embedding similarity search (ENGINE; training-data pipeline surface).

* :func:`cosine_topk_bruteforce` — exact top-k cosine neighbors for a
  (small, broadcast) query set against the full embeddings table. The dot
  products run in one ``mapInArrow`` stage as a single numpy matmul per
  batch (queries broadcast in the closure) — the right baseline and
  exactly what the oracle can check.
* :func:`cosine_near_dup_pairs` — all pairs above a cosine threshold via
  sign-random-projection LSH bucketing (the scale path: equi-join on
  bucket), verified exactly; probabilistic recall, tested with tolerance.
* :func:`ivf_topk` — IVF-style two-stage ANN: k-means-ish centroid
  assignment (deterministic seeded centroids), probe the nprobe closest
  lists only. Approximate by design, but DETERMINISTIC: all float
  accumulations run in a fixed sequential order (see `_seq_dot`), so the
  DuckDB oracle re-derives buckets/assignments/rankings value-exactly
  with the planes/centroids embedded as double literals.

Embeddings are ``array<float/double>`` columns; at 100 TB the embeddings
table is bucketed by LSH/IVF cell so candidate generation is an equi-join,
never a cross join.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from s2cell_spark.functions.udfs import arrow_frame, arrow_to_numpy, numpy_to_arrow
from s2cell_spark.plans.bucketing import drop_table_and_orphan


def _to_matrix(vecs: pa.ListArray) -> np.ndarray:
    """(n, dim) float64 matrix of an Arrow list-of-float column; every
    vector must have the same length."""
    lens = np.diff(vecs.offsets.to_numpy())
    if lens.size and (lens != lens[0]).any():
        raise ValueError("embedding vectors differ in length within a batch")
    flat, _ = arrow_to_numpy(vecs.flatten(), np.float64)
    return flat.reshape(len(vecs), int(lens[0]) if lens.size else 0)


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Output: (query_id, vec_id, rank), rank by (-cosine, vec_id). One scan,
    one numpy matmul per Arrow batch, then a global per-query top-k window
    over (n_queries x batch_topk) partial results.
    """
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = np.vstack([np.asarray(q[1], dtype=np.float64) for q in queries])
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            mat = _to_matrix(batch.column(vec_col))
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = q_norm @ mat.T  # (nq, batch)
            ids, _ = arrow_to_numpy(batch.column(id_col), np.int64)
            qs, vs, cs = [], [], []
            for qid, row in zip(q_ids, sims):
                keep = ids != qid if exclude_self else np.ones(ids.shape, bool)
                # per-batch top-k by (-cosine, vec_id), NaN last — bounds
                # shuffle size
                top = np.lexsort((ids[keep], -row[keep]))[:k]
                qs.append(np.full(top.shape, qid))
                vs.append(ids[keep][top])
                cs.append(row[keep][top])
            yield pa.RecordBatch.from_arrays(
                [numpy_to_arrow(np.concatenate(c)) for c in (qs, vs, cs)],
                names=out_schema.names,
            )

    partial = embeddings.select(id_col, vec_col).mapInArrow(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank")
    )


def srp_planes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    """Deterministic SRP hyperplanes, shared by the Spark UDF and the
    DuckDB oracle generator (embedded there as double literals)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def _seq_dot(planes: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """planes @ mat.T with a SEQUENTIAL float64 accumulation over dim
    (vectorized across rows/planes). Matches the left-fold order of both
    Spark's ``F.aggregate`` and DuckDB's ``list_reduce`` bit-for-bit —
    BLAS matmul uses blocked/pairwise summation whose rounding differs, so
    it cannot be value-checked across engines."""
    if planes.shape[1] != mat.shape[1]:
        raise ValueError(
            f"embedding dim {mat.shape[1]} != configured dim {planes.shape[1]}"
            " — pass the table's actual vector width (silently projecting"
            " onto a prefix would degrade recall with no error)"
        )
    acc = np.zeros((planes.shape[0], mat.shape[0]))
    for k in range(planes.shape[1]):
        acc += planes[:, k : k + 1] * mat[None, :, k]
    return acc


def srp_bucket_udf(dim: int, n_bits: int = 16, seed: int = 23):
    """Sign-random-projection bucket id (n_bits-bit) Arrow UDF."""
    planes = srp_planes(dim, n_bits, seed)

    @F.arrow_udf(LongType())
    def bucket(vec: pa.Array) -> pa.Array:
        mat = _to_matrix(vec)
        signs = _seq_dot(planes, mat) > 0  # (n_bits, n)
        weights = (1 << np.arange(n_bits, dtype=np.int64))[:, None]
        return numpy_to_arrow((signs * weights).sum(axis=0).astype(np.int64))

    return bucket


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bits: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs (a < b) with cosine >= threshold, candidates from `n_tables`
    independent SRP hash tables (equi-join per bucket), verified exactly."""
    tables = []
    for t in range(n_tables):
        bkt = srp_bucket_udf(dim, n_bits, seed=23 + t)
        tables.append(
            embeddings.select(
                F.col(id_col).alias("doc"),
                F.col(vec_col).alias("v"),
                F.lit(t).alias("tbl"),
                bkt(F.col(vec_col)).alias("bucket"),
            )
        )
    banded = tables[0]
    for t in tables[1:]:
        banded = banded.unionByName(t)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.v").alias("v_a"),
            F.col("b.v").alias("v_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # cast to double BEFORE multiplying: float32 products round differently
    # and would diverge from the (double-only) DuckDB oracle
    da = F.transform("v_a", lambda x: x.cast("double"))
    db = F.transform("v_b", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )  # noqa: E731
    return (
        cand.withColumn("cosine", dot / (norm(da) * norm(db)))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def ivf_centroids(dim: int, n_cells: int, seed: int = 31) -> np.ndarray:
    """Deterministic seeded unit centroids, shared by the assignment UDF
    and the DuckDB oracle generator."""
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_cells, dim))
    return cents / np.linalg.norm(cents, axis=1, keepdims=True)


def ivf_probes(
    queries: list[tuple[int, list[float]]], cents: np.ndarray, nprobe: int
) -> list[tuple[int, int]]:
    """(query_id, ivf_cell) rows: each query's `nprobe` closest centroid
    lists. Unnormalized dot (argmax/argsort are scale-invariant for
    |q| > 0), sequential accumulation + stable tie-break on cell index —
    byte-identical to the oracle's `ORDER BY d DESC, cell` window."""
    q_ids = [q[0] for q in queries]
    q_mat = np.vstack([np.asarray(q[1], dtype=np.float64) for q in queries])
    qd = _seq_dot(cents, q_mat)  # (n_cells, nq)
    out = []
    for qi, qid in enumerate(q_ids):
        order = np.argsort(-qd[:, qi], kind="stable")[:nprobe]
        out.extend((int(qid), int(cell)) for cell in order)
    return out


def ivf_assign_udf(cents: np.ndarray):
    """Nearest-centroid assignment Arrow UDF (shared by the one-shot
    query path and the bucketed index writer)."""

    @F.arrow_udf(LongType())
    def assign(vec: pa.Array) -> pa.Array:
        mat = _to_matrix(vec)
        # unnormalized dot: argmax is scale-invariant (|v| > 0), and the
        # sequential accumulation order matches the oracle's SQL fold
        return numpy_to_arrow(np.argmax(_seq_dot(cents, mat), axis=0).astype(np.int64))

    return assign


def _score_probed(
    assigned: DataFrame,
    queries: list[tuple[int, list[float]]],
    cents: np.ndarray,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Probe-list join + exact cosine re-rank over an `assigned` frame
    carrying ``ivf_cell`` — shared tail of :func:`ivf_topk` and
    :func:`ivf_topk_from_index`."""
    spark = assigned.sparkSession
    probe_rows = ivf_probes(queries, cents, nprobe)
    # literal IN-filter on the union of probed cells FIRST: on a bucketed
    # index this is what turns into bucket pruning at the file source
    # (SelectedBucketsCount), so unprobed buckets are never even read
    probed_cells = sorted({c for _, c in probe_rows})
    cand = assigned.filter(F.col("ivf_cell").isin(probed_cells))
    probe_df = F.broadcast(arrow_frame(spark, probe_rows, "query_id long, ivf_cell long"))
    cand = cand.join(probe_df, on="ivf_cell")
    q_vec_df = F.broadcast(
        arrow_frame(
            spark,
            [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
            "query_id long, q_vec array<double>",
        )
    )
    # exact cosine on the probed candidates only — native zip_with/aggregate
    scored = cand.join(q_vec_df, on="query_id").filter(F.col(id_col) != F.col("query_id"))
    dvec = F.transform(vec_col, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(dvec, "q_vec", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))  # noqa: E731
    scored = scored.withColumn("cosine", dot / (nrm(dvec) * nrm(F.col("q_vec"))))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("vec_id"), "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: assign vectors to their nearest of `n_cells` seeded random
    unit centroids (one pass), then search only each query's `nprobe`
    closest cells. Approximate by design; recall grows with nprobe.

    This one-shot form re-runs the assignment UDF per query batch; for
    repeated probing of the same corpus, build a bucketed index once with
    :func:`ivf_index_write` and query it with :func:`ivf_topk_from_index`.
    """
    first = embeddings.select(vec_col).first()
    dim = len(first[0])
    cents = ivf_centroids(dim, n_cells, seed)
    assigned = embeddings.withColumn("ivf_cell", ivf_assign_udf(cents)(F.col(vec_col)))
    return _score_probed(assigned, queries, cents, k, nprobe, id_col, vec_col)


def ivf_index_write(
    embeddings: DataFrame,
    table: str,
    n_cells: int = 16,
    seed: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Materialize the IVF index ONCE: centroid-assign every vector and
    write a managed table BUCKETED by ``ivf_cell`` (one bucket per list,
    sorted within). Every subsequent :func:`ivf_topk_from_index` probe
    then (a) skips the assignment UDF entirely and (b) reads only the
    probed buckets — the literal IN-filter on the bucket column becomes
    file-source bucket pruning (``SelectedBucketsCount: nprobe-ish out of
    n_cells``, plan-pinned in tests/test_plans.py). At 100 TB this is the
    difference between scanning the full embeddings table per query batch
    and touching nprobe/n_cells of it with zero Python. Returns the
    vector dimension (needed to rebuild the centroids at query time)."""
    drop_table_and_orphan(embeddings.sparkSession, table)
    first = embeddings.select(vec_col).first()
    dim = len(first[0])
    cents = ivf_centroids(dim, n_cells, seed)
    assigned = embeddings.withColumn("ivf_cell", ivf_assign_udf(cents)(F.col(vec_col)))
    (
        assigned.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_cells, "ivf_cell")
        .sortBy("ivf_cell", id_col)
        .saveAsTable(table)
    )
    return dim


def ivf_topk_from_index(
    spark,
    table: str,
    dim: int,
    queries: list[tuple[int, list[float]]],
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over a bucketed index built by :func:`ivf_index_write`.
    Identical results to :func:`ivf_topk` with the same parameters (same
    centroids, same assignment, same exact re-rank) — but the scan is
    bucket-pruned to the probed lists and runs no assignment UDF."""
    cents = ivf_centroids(dim, n_cells, seed)
    return _score_probed(spark.table(table), queries, cents, k, nprobe, id_col, vec_col)
