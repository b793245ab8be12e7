"""Similarity search over an embedding column (``array<float>``).

Baseline: brute-force cosine top-k — the candidate matrix is collected and
broadcast, each Arrow batch of queries does one BLAS matmul (reuses
``operators.topk.knn_broadcast``, the same physical plan as the reference's
FAISS flat index, retriever/dense.py:43-46).

Scale path: **LSH-bucketed ANN** — random-hyperplane signatures (seeded,
deterministic) assign each vector to 2^bits buckets repeated over
``tables`` hash tables; top-k is computed per bucket and re-reduced.
Candidate side no longer needs to fit in a broadcast: the bucket join
shuffles both sides on (table, bucket), O(N·tables) rows, and each bucket
scores locally. Recall is tunable via (bits, tables).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql.window import Window

from .topk import knn_broadcast

# per-HOST cap on concurrent self-kNN scoring tasks in neardup_pairs: each
# 1024-query chunk streams a ~|candidates| x 8 B score matrix (160 MB at
# 20k candidates), so the stage is memory-bandwidth-bound, and on the
# profiled 32-core host bandwidth collapses past ~8 concurrent streams
# (bench membw ladder; measured at 20k x 20k: 8 tasks = 3.5 s stable,
# 19 = 4.8-5.9 s, 32 = 1.3-7.5 s erratic). On a multi-executor cluster
# the cap is per executor group and total concurrency grows with hosts.
KNN_SLOTS = 8


def _id_order(col: str = "hit_id"):
    """Tie-break ordering that matches a NUMERIC id comparison for
    non-negative decimal id strings — (length, lexicographic) ranks '9'
    before '10', exactly as the DuckDB oracles' numeric ``ORDER BY c_id``
    does on an exact-cosine tie — while remaining a deterministic total
    order for arbitrary (non-numeric) string ids (round-3 ADVICE: plain
    string order diverged from the oracle at ties)."""
    return [F.length(F.col(col)), F.col(col)]


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
    query_partitions: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of queries against candidates (broadcast matrix).

    Output: (vec_id, hit_id, score, rank), rank 1 = best. Ties broken by
    candidate id for determinism.

    ``query_partitions``: repartition the query side before the scoring
    stage. The default (None) keeps the input partitioning — right for the
    dimension-sized query sets most callers pass. Set it when the QUERY
    side is corpus-sized and its source collapses to few partitions (a
    single small parquet file at self-kNN): the per-batch matmuls are the
    whole cost and they otherwise serialize on one core (round 8:
    embedding_neardup at 20k x 20k ran 11 s on one task; 32-way it is
    ~1 s). Scores are per-row dot products against the SAME broadcast
    candidate matrix, so the output is invariant to query partitioning.
    """
    # Arrow-path driver transfer (optimization guide §6: toPandas with
    # Arrow is far faster than the row-pickling .collect() — measured
    # 1.5 s -> ~0.2 s on the 20k x 64-float candidate table), then one
    # numpy stack. float32 cells widen to the identical float64 values
    # the old per-row path produced.
    cpdf = candidates.select(F.col(id_col).cast("string"), emb_col).toPandas()
    ids = cpdf[id_col].tolist()
    mat = (
        np.stack(cpdf[emb_col].to_numpy()).astype(np.float64)
        if len(cpdf)
        else np.zeros((0, 1), np.float64)
    )
    q = queries.select(F.col(id_col).cast("string").alias("rid"), F.col(emb_col).alias("emb"))
    if query_partitions is not None:
        q = q.repartition(query_partitions)
    kk = k + 1 if exclude_self else k
    hits = knn_broadcast(q, mat, ids, k=min(kk, len(ids)), measure="cos", id_col="rid", emb_col="emb")
    if exclude_self:
        hits = hits.filter(F.col("rid") != F.col("hit_id"))
        w = Window.partitionBy("rid").orderBy(F.col("score").desc(), *_id_order())
        hits = (
            hits.withColumn("r2", F.row_number().over(w))
            .filter(F.col("r2") <= k)
            .select("rid", "hit_id", "score", F.col("r2").alias("rank"))
        )
    return hits.withColumnRenamed("rid", id_col)


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 17) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((tables, bits, dim))


def make_bucket_udf(dim: int, bits: int, tables: int, seed: int = 17):
    planes = _hyperplanes(dim, bits, tables, seed)

    @F.pandas_udf(ArrayType(StringType()))
    def buckets(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        P = planes  # worker-local copy via closure capture (small)
        for ser in batches:
            m = np.stack(ser.to_numpy()).astype(np.float64)
            out = []
            signs = np.einsum("tbd,nd->ntb", P, m) >= 0  # (n, tables, bits)
            weights = 1 << np.arange(bits)
            codes = (signs * weights).sum(axis=2)  # (n, tables)
            for row in codes:
                out.append([f"{t}:{int(c)}" for t, c in enumerate(row)])
            yield pd.Series(out)

    return buckets


def _bucket_scorer(k: int):
    """Grouped-map kernel: score one bucket's members against each other
    ENTIRELY inside the group (normalized matmul, chunked so memory is
    O(chunk·bucket), per-query local top-k) and emit only
    (rid, hit_id, score) — vectors never ride on pair rows, so the shuffle
    moves each vector once per bucket it belongs to, never once per pair.

    Deterministic: rows are sorted by rid before scoring and ties broken
    by position (= ascending rid) via a stable argsort, so bucket-local
    candidate sets don't depend on shuffle arrival order."""

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rid", kind="mergesort")
        ids = pdf["rid"].to_numpy()
        n = len(ids)
        kk = min(k, n - 1)
        if kk <= 0:
            return pd.DataFrame({"rid": [], "hit_id": [], "score": []})
        M = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        out = []
        chunk = 1024
        for i0 in range(0, n, chunk):
            hi = min(i0 + chunk, n)
            S = M[i0:hi] @ M.T  # (c, n)
            S[np.arange(hi - i0), np.arange(i0, hi)] = -np.inf  # self
            idx = np.argsort(-S, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(i0, hi), kk)
            cols = idx.ravel()
            out.append(
                pd.DataFrame(
                    {
                        "rid": ids[rows],
                        "hit_id": ids[cols],
                        "score": S[np.repeat(np.arange(hi - i0), kk), cols],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return score_bucket


def lsh_topk(
    data: DataFrame,
    k: int,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
    seed: int = 17,
) -> DataFrame:
    """Approximate self-kNN: bucket shuffle + per-bucket grouped-map cosine
    top-k + global re-rank over the per-bucket winners.

    Never collects the candidate set — this is the path that survives when
    embeddings no longer fit in a broadcast (billions of rows). Scoring is
    per-bucket ``applyInPandas`` emitting (rid, hit_id, score) only; a pair
    observed in several buckets gets a bit-identical score in each (the
    per-pair dot is order-independent), so the global dedup + window rank
    is exact over the bucket-local candidates.
    """
    if dim is None:
        dim = len(data.select(emb_col).first()[0])
    bucket_udf = make_bucket_udf(dim, bits, tables, seed)
    tagged = data.select(
        F.col(id_col).cast("string").alias("rid"), F.col(emb_col).alias("emb")
    ).withColumn("bucket", F.explode(bucket_udf(F.col("emb"))))

    local = tagged.groupBy("bucket").applyInPandas(
        _bucket_scorer(k), "rid string, hit_id string, score double"
    )
    # per-pair dedup across buckets via max(score), NOT dropDuplicates:
    # the same pair's dot product is mathematically identical in every
    # bucket, but BLAS accumulation order can differ by a ulp with the
    # bucket matrix shape/threading, and dropDuplicates would then keep an
    # arbitrary copy and could flip the score-desc rank near ties. max()
    # is deterministic regardless of float identity.
    scored = local.groupBy("rid", "hit_id").agg(F.max("score").alias("score"))
    w = Window.partitionBy("rid").orderBy(F.col("score").desc(), *_id_order())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("rid").alias(id_col), "hit_id", "score", "rank")
    )


def ivf_topk(
    data: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 23,
    sample: int = 512,
) -> DataFrame:
    """IVF-style approximate self-kNN: coarse quantize to deterministic
    centroids, probe the ``n_probe`` nearest cells per query, score only
    within probed cells.

    Centroids are a seeded k-means++-lite pass over a driver-side sample
    (deterministic: ``orderBy(id).limit(sample)``); at 10^12 scale this is
    the standard two-level layout — the centroid table stays broadcast-
    sized while candidate vectors shuffle once on cell id. Recall tunes
    with (n_centroids, n_probe); exactness is the brute-force path.
    """
    smp = (
        data.select(F.col(id_col).cast("string").alias("rid"), F.col(emb_col).alias("emb"))
        .orderBy("rid")
        .limit(sample)
        .collect()
    )
    vecs = np.array([r["emb"] for r in smp], dtype=np.float64)
    vecs /= np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    # k-means++-lite seeding, then a few Lloyd rounds (driver-side, tiny)
    centroids = [vecs[rng.randint(len(vecs))]]
    for _ in range(n_centroids - 1):
        d2 = np.min([1 - vecs @ c for c in centroids], axis=0)
        p = np.maximum(d2, 1e-9)
        centroids.append(vecs[rng.choice(len(vecs), p=p / p.sum())])
    C = np.stack(centroids)
    for _ in range(5):
        assign = np.argmax(vecs @ C.T, axis=1)
        for j in range(n_centroids):
            members = vecs[assign == j]
            if len(members):
                m = members.mean(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)

    spark = data.sparkSession
    bc = spark.sparkContext.broadcast(C)
    probe = n_probe

    @F.pandas_udf(ArrayType(StringType()))
    def probe_cells(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cent = bc.value
        for ser in batches:
            m = np.stack(ser.to_numpy()).astype(np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ cent.T
            top = np.argsort(-sims, axis=1)[:, :probe]
            yield pd.Series([[str(c) for c in row] for row in top])

    base = data.select(
        F.col(id_col).cast("string").alias("rid"), F.col(emb_col).alias("emb")
    ).withColumn("probes", probe_cells(F.col("emb")))
    # candidates live in their best (first-probed) cell; queries probe all.
    # One shuffled frame with role flags — scoring happens INSIDE each cell
    # group (grouped-map), emitting (rid, hit_id, score) only: vectors
    # cross the shuffle once per probed cell, never once per pair.
    queries = base.withColumn("cell", F.explode("probes")).select(
        "cell", "rid", "emb", F.lit(True).alias("is_q"),
        (F.element_at("probes", 1) == F.col("cell")).alias("is_c"),
    )

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rid", kind="mergesort")
        ids = pdf["rid"].to_numpy()
        is_c = pdf["is_c"].to_numpy()
        if not is_c.any():
            return pd.DataFrame({"rid": [], "hit_id": [], "score": []})
        M = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        C = M[is_c]
        cand_ids = ids[is_c]
        kk = min(k, len(cand_ids))
        out = []
        chunk = 1024
        for i0 in range(0, len(ids), chunk):
            hi = min(i0 + chunk, len(ids))
            S = M[i0:hi] @ C.T  # (c, n_cand)
            # exclude self-hits (query also a candidate in this cell)
            for li, gi in enumerate(range(i0, hi)):
                sel = cand_ids == ids[gi]
                if sel.any():
                    S[li, sel] = -np.inf
            idx = np.argsort(-S, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(i0, hi), kk)
            sc = S[np.repeat(np.arange(hi - i0), kk), idx.ravel()]
            keep = sc > -np.inf
            out.append(
                pd.DataFrame(
                    {
                        "rid": ids[rows][keep],
                        "hit_id": cand_ids[idx.ravel()][keep],
                        "score": sc[keep],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    local = queries.groupBy("cell").applyInPandas(
        score_cell, "rid string, hit_id string, score double"
    )
    # deterministic cross-cell dedup (see lsh_topk): max() is stable under
    # last-ulp BLAS differences, dropDuplicates is not
    scored = local.groupBy("rid", "hit_id").agg(F.max("score").alias("score"))
    w = Window.partitionBy("rid").orderBy(F.col("score").desc(), *_id_order())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("rid").alias(id_col), "hit_id", "score", "rank")
    )


def embedding_neardup_pairs(
    data: DataFrame,
    threshold: float = 0.95,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    broadcast_limit: int = 250_000,
    bits: int = 4,
    tables: int = 24,
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold (canonical a < b).

    Physical dispatch by candidate-set size: up to ``broadcast_limit``
    rows the exact broadcast-matrix path runs (here the corpus IS the
    candidate set, so this is only safe when it is dimension-sized);
    above it the LSH-bucketed path takes over — it never collects or
    broadcasts the table, so the operator survives corpus-scale inputs
    instead of OOM-ing the driver. LSH output is a subset of the exact
    pairs with bit-identical scores (every emitted pair's cosine is
    computed exactly), recall tuned via (bits, tables) — gated in
    tests/test_knn.py against the brute-force path.

    ``n_rows``: caller-supplied size hint for the dispatch — skips the
    extra full-input count() job when the caller already knows (or has a
    plan statistic for) the input size. ``dim`` forwards to ``lsh_topk``
    for the same reason (skips its ``.first()`` dimension probe).
    """
    n = n_rows if n_rows is not None else data.count()
    if n <= broadcast_limit:
        # self-kNN: the query side IS the corpus — spread the per-batch
        # matmuls over the executors' cores when the table is big enough
        # that the shuffle (a few MB of vectors) is cheaper than running
        # n/batch matmuls on however few partitions the source file
        # yields (one, for a single small parquet). Dimension-sized
        # inputs keep their partitioning: a repartition would only add
        # scheduling overhead to a sub-second job.
        qparts = None
        if n > 4096:
            sc = data.sparkSession.sparkContext
            qparts = min(sc.defaultParallelism, max(2, n // 1024), KNN_SLOTS)
        hits = brute_force_topk(
            data, data, k=k, id_col=id_col, emb_col=emb_col,
            query_partitions=qparts,
        )
    else:
        hits = lsh_topk(
            data, k=k, bits=bits, tables=tables, id_col=id_col, emb_col=emb_col,
            dim=dim,
        )
    return (
        hits.filter(F.col("score") >= threshold)
        .select(
            F.least(F.col(id_col), F.col("hit_id")).alias("a"),
            F.greatest(F.col(id_col), F.col("hit_id")).alias("b"),
            F.round("score", 4).alias("cosine"),
        )
        .dropDuplicates(["a", "b"])
    )
