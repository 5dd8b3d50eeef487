"""Similarity search over embedding columns (array<float>).

Two physical strategies for the same logical query "top-k nearest by
cosine":

- ``cosine_topk`` — brute force: one narrow projection computing the
  score per row (vectorized pandas UDF over Arrow batches; the query
  vector is a closure constant), then ``orderBy(desc).limit(k)`` which
  Spark executes as TakeOrdered (per-partition top-k heaps + driver
  merge of k×partitions rows — no full sort, no full shuffle). This is
  the exact baseline and the correctness oracle's twin.
- ``ann_lsh_topk`` — the 100 TB path: random-hyperplane LSH buckets.
  Each vector is signed against H broadcast hyperplanes → an H-bit
  bucket id; the query probes its own bucket plus all buckets within
  ``probe_bits`` sign flips (multi-probe), and only those buckets are
  exactly re-ranked. Bucketing is an equi-filter Catalyst can push; the
  re-rank set is ~n / 2^H × probes, not n.
- ``embedding_near_dup`` — all near-pairs by cosine >= threshold via the
  same LSH buckets: candidates = bucket equi-join, verify = exact
  cosine. Never an n² cross join.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skylinemapreducehadoop_spark.operators._cache import fan_out


def _as_matrix(vecs: pd.Series, dim: int) -> np.ndarray:
    out = np.zeros((len(vecs), dim), dtype=np.float64)
    for i, v in enumerate(vecs):
        if v is not None:
            out[i, : len(v)] = np.asarray(v, dtype=np.float64)
    return out


def cosine_score(df: DataFrame, query_vec: Sequence[float], vec_col: str = "embedding") -> DataFrame:
    """Adds ``score`` = cosine(vec, query). Vectorized per Arrow batch:
    one matrix-vector product per batch, no per-row Python."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = np.linalg.norm(q)
    dim = len(q)

    @F.pandas_udf(T.DoubleType())
    def cos(vecs: pd.Series) -> pd.Series:
        m = _as_matrix(vecs, dim)
        norms = np.linalg.norm(m, axis=1)
        denom = norms * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(denom > 0, m @ q / denom, 0.0)
        return pd.Series(s)

    return df.withColumn("score", cos(F.col(vec_col)))


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine; ties broken by id for determinism.
    ``round_digits`` ranks on the ROUNDED score instead (the repo's
    engine-exactness rule for cross-engine rank comparisons: raw
    library cosines can differ in final ulps between BLAS and a
    sequential fold, so an oracle comparing rank MEMBERSHIP should
    quantize before ordering)."""
    scored = cosine_score(df, query_vec, vec_col)
    if round_digits is not None:
        scored = scored.withColumn("score", F.round("score", round_digits))
    return (
        scored.orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
        .select(id_col, "score")
    )


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    exclude_self: bool = True,
    max_query_rows: int = 65_536,
) -> DataFrame:
    """Exact top-k cosine for a BATCH of query vectors — the realistic
    retrieval shape (evaluate a query set, build a kNN graph slice)
    instead of one vector at a time.

    Plan: the query batch (bounded — a few thousand vectors) is
    collected and closed over as ONE matrix; a single ``mapInPandas``
    pass computes the full (batch_rows × n_queries) score block per
    Arrow batch with one matmul and emits only each partition's top-k
    per query, so the shuffle carries ``k × partitions × queries``
    rows, never the corpus; a window takes the global top-k. Scores
    are rounded to 6 decimals AFTER ranking (cross-engine hash rule).

    ``exclude_self`` drops corpus rows whose id equals the query id
    (the common corpus-as-query-source setup).

    The query side is DRIVER-COLLECTED by design — right for an eval
    set, wrong for a corpus. ``max_query_rows`` bounds the collect
    (via ``limit``, so the driver never fetches more) and fails fast
    with a pointer to :func:`knn_graph`, the fully distributed
    corpus-as-queries path.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    qrows = (
        queries.select(query_id_col, query_vec_col)
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"queries exceeds max_query_rows={max_query_rows}: "
            "cosine_topk_batch collects the query side to the driver "
            "(eval-set contract). For corpus-sized query sets use "
            "knn_graph(), which never collects either side."
        )
    if not qrows:
        raise ValueError("queries is empty")
    # keep query ids in their native dtype (string/long/... all work —
    # the exclude_self == comparison and the output column both follow
    # the queries frame's schema, not a hardcoded int64)
    qids = np.asarray([r[0] for r in qrows])
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(Q, axis=1)
    dim = Q.shape[1]

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            corpus.schema[id_col],
            T.StructField("score", T.DoubleType()),
        ]
    )

    def part_topk(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = _as_matrix(pdf[vec_col], dim)
            ids = pdf[id_col].to_numpy()
            norms = np.linalg.norm(m, axis=1)
            denom = norms[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                s = np.where(denom > 0, (m @ Q.T) / denom, 0.0)  # (n, q)
            if exclude_self:
                s[ids[:, None] == qids[None, :]] = -np.inf
            top = min(k, len(ids))
            # per-query partial top-k: argpartition per column
            idx = np.argpartition(-s, top - 1, axis=0)[:top]  # (top, q)
            qcol = np.broadcast_to(qids[None, :], idx.shape)
            flat_scores = np.take_along_axis(s, idx, axis=0).ravel()
            keep = np.isfinite(flat_scores)
            yield pd.DataFrame(
                {
                    query_id_col: qcol.ravel()[keep],
                    id_col: ids[idx.ravel()][keep],
                    "score": flat_scores[keep],
                }
            )

    local = corpus.select(id_col, vec_col).mapInPandas(part_topk, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.col(id_col))
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"))
    )


def _series_dim(s: pd.Series) -> int:
    m = 0
    for v in s:
        if v is not None:
            m = max(m, len(v))
    return m


def knn_graph(
    corpus: DataFrame,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_block_rows: int = 4_096,
    c_block_rows: int = 16_384,
    exclude_self: bool = True,
    out_query_col: str = "qid",
) -> DataFrame:
    """Exact k-nearest-neighbor GRAPH: for EVERY corpus row, its top-k
    cosine neighbors — the corpus-as-queries retrieval shape (SemDeDup
    style clustering, near-dup graph construction). Unlike
    :func:`cosine_topk_batch` this NEVER collects either side to the
    driver, so the "query" set can be the full corpus.

    Plan: both sides are hash-split into blocks (queries into B blocks
    of ``q_block_rows``, corpus into C of ``c_block_rows``) and every
    (query-block, corpus-block) pair meets in ONE cogrouped Arrow task:
    queries replicate C ways, corpus replicates B ways (shuffle volume
    n·(B+C) rows, never n² pairs), each task runs a chunked matmul and
    emits only its block-local top-k per query, and a final window
    takes the global top-k. Per-task memory is bounded by the block
    sizes regardless of corpus size.

    Exactness is O(n²/·) work by nature — this is the brute-force twin
    with distributed, bounded mechanics; at real corpus scale use
    ``ann_lsh_topk`` / ``ivf_topk`` buckets to shrink the candidate
    pairs first. Ties are broken by ascending neighbor id everywhere
    (chunk-local, block-local, and global), so results are
    deterministic under any partitioning; scores are rounded to 6
    decimals AFTER ranking (cross-engine hash rule).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if out_query_col == id_col:
        raise ValueError(
            f"out_query_col must differ from id_col, both are {id_col!r}"
        )
    n = corpus.count()
    if n == 0:
        empty_schema = T.StructType(
            [
                T.StructField(out_query_col, corpus.schema[id_col].dataType),
                corpus.schema[id_col],
                T.StructField("score", T.DoubleType()),
            ]
        )
        return corpus.sparkSession.createDataFrame([], empty_schema)
    from pyspark.sql import Window

    n_qb = max(1, -(-n // q_block_rows))
    n_cb = max(1, -(-n // c_block_rows))

    base = corpus.select(id_col, vec_col)
    qside = (
        base.select(
            F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
        )
        .withColumn(
            "__qb", F.pmod(F.xxhash64(F.col("__qid")), F.lit(n_qb)).cast("int")
        )
        .withColumn("__cb", F.explode(F.sequence(F.lit(0), F.lit(n_cb - 1))))
    )
    cside = (
        base.withColumn(
            "__cb", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_cb)).cast("int")
        )
        .withColumn("__qb", F.explode(F.sequence(F.lit(0), F.lit(n_qb - 1))))
    )

    out_schema = T.StructType(
        [
            T.StructField(out_query_col, corpus.schema[id_col].dataType),
            corpus.schema[id_col],
            T.StructField("score", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame({out_query_col: [], id_col: [], "score": []})

    def block_topk(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(cpdf):
            return empty
        # corpus rows id-ascending: stable sorts below then break score
        # ties by id automatically (chunk slices preserve the order)
        cpdf = cpdf.sort_values(id_col, kind="stable")
        dim = max(_series_dim(qpdf["__qvec"]), _series_dim(cpdf[vec_col]))
        if dim == 0:
            return empty
        Qm = _as_matrix(qpdf["__qvec"], dim)
        qn = np.linalg.norm(Qm, axis=1)
        qids = qpdf["__qid"].to_numpy()
        Cm = _as_matrix(cpdf[vec_col], dim)
        cn = np.linalg.norm(Cm, axis=1)
        cids = cpdf[id_col].to_numpy()
        # chunk the (n_q x chunk) score block to ~64 MB of doubles
        step = max(1, (1 << 23) // max(len(qpdf), 1))
        cand_s: list[np.ndarray] = []
        cand_i: list[np.ndarray] = []
        for s0 in range(0, len(cids), step):
            sub = Cm[s0 : s0 + step]
            subn = cn[s0 : s0 + step]
            subids = cids[s0 : s0 + step]
            denom = qn[:, None] * subn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                s = np.where(denom > 0, (Qm @ sub.T) / denom, 0.0)
            if exclude_self:
                s[qids[:, None] == subids[None, :]] = -np.inf
            top = min(k, s.shape[1])
            idx = np.argsort(-s, axis=1, kind="stable")[:, :top]
            cand_s.append(np.take_along_axis(s, idx, axis=1))
            cand_i.append(subids[idx])
        S_ = np.concatenate(cand_s, axis=1)
        I_ = np.concatenate(cand_i, axis=1)
        top = min(k, S_.shape[1])
        idx = np.argsort(-S_, axis=1, kind="stable")[:, :top]
        sel_s = np.take_along_axis(S_, idx, axis=1).ravel()
        sel_i = np.take_along_axis(I_, idx, axis=1).ravel()
        qcol = np.repeat(qids, top)
        keep = np.isfinite(sel_s)
        return pd.DataFrame(
            {
                out_query_col: qcol[keep],
                id_col: sel_i[keep],
                "score": sel_s[keep],
            }
        )

    local = (
        qside.groupby("__qb", "__cb")
        .cogroup(cside.groupby("__qb", "__cb"))
        .applyInPandas(block_topk, out_schema)
    )
    w = Window.partitionBy(out_query_col).orderBy(
        F.desc("score"), F.col(id_col)
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(out_query_col, id_col, F.round("score", 6).alias("score"))
    )


def _hyperplanes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_udf(planes: np.ndarray):
    """Pandas UDF: H-bit sign bucket of each vector (one matmul/batch)."""
    dim = planes.shape[1]
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = _as_matrix(vecs, dim)
        signs = (m @ planes.T) > 0
        return pd.Series(signs @ weights)

    return bucket


def ann_lsh_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    probe_bits: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus all buckets
    within ``probe_bits`` sign flips, exact-rerank only those rows."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    planes = _hyperplanes(n_planes, len(q), seed)
    q_bits = int(((q @ planes.T) > 0) @ (1 << np.arange(n_planes, dtype=np.int64)))

    probes = {q_bits}
    frontier = {q_bits}
    for _ in range(probe_bits):
        frontier = {b ^ (1 << i) for b in frontier for i in range(n_planes)}
        probes |= frontier

    bucketed = df.withColumn("__bucket", lsh_bucket_udf(planes)(F.col(vec_col)))
    cand = bucketed.where(F.col("__bucket").isin([int(p) for p in probes]))
    return cosine_topk(cand, query_vec, k, vec_col=vec_col, id_col=id_col)


def _kmeans_centroids(sample: np.ndarray, k: int, n_iter: int, seed: int) -> np.ndarray:
    """Driver-side Lloyd iterations on a sample (k-means++ seeding).
    The sample is small (collected once); the full data never leaves
    the cluster — only centroids are broadcast back."""
    rng = np.random.RandomState(seed)
    # k-means++ init
    centroids = [sample[rng.randint(len(sample))]]
    for _ in range(1, k):
        d2 = np.min(
            [((sample - c) ** 2).sum(axis=1) for c in centroids], axis=0
        )
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        centroids.append(sample[rng.choice(len(sample), p=probs)])
    C = np.array(centroids)
    for _ in range(n_iter):
        assign = np.argmin(((sample[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def ivf_build(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    sample_rows: int = 10_000,
    n_iter: int = 5,
    seed: int = 42,
) -> tuple[DataFrame, np.ndarray]:
    """ONE-TIME IVF index build: returns (df + ``__list`` assignment
    column, centroid matrix). Persist the frame with ``ivf_write`` so
    every subsequent probe is a partition-pruned scan.

    The k-means training sample is drawn deterministically WITHOUT a
    ``count()`` pass: order by a hash of the id and take the first
    ``sample_rows`` — Spark executes that as per-partition top-k heaps
    (TakeOrdered), never a full sort or full scan to the driver.
    """
    sample_pdf = (
        df.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_rows)
        .toPandas()
    )
    if len(sample_pdf) == 0:
        raise ValueError("ivf_build: input has no rows")
    dim = len(sample_pdf.iloc[0, 0])
    sample = _as_matrix(sample_pdf["v"], dim)
    n_lists = min(n_lists, len(sample))
    C = _kmeans_centroids(sample, n_lists, n_iter, seed)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = _as_matrix(vecs, dim)
        d2 = ((m[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return df.withColumn("__list", assign(F.col(vec_col))), C


def ivf_write(assigned: DataFrame, centroids: np.ndarray, path: str) -> None:
    """Persist an IVF index: vectors parquet-partitioned by ``__list``
    (probe scans prune whole directories) + the tiny centroid table.

    Centroids are written FIRST: readers gate on ``vectors/_SUCCESS``
    (the last artifact), so a crash mid-write can never leave an index
    that passes the gate but fails in ``ivf_read``."""
    spark = assigned.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(cent_rows, "list_id int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned.write.mode("overwrite").partitionBy("__list").parquet(f"{path}/vectors")


def ivf_read(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """Load a persisted IVF index → (assigned frame, centroid matrix)."""
    assigned = spark.read.parquet(f"{path}/vectors")
    cent = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    C = np.asarray([r["centroid"] for r in cent], dtype=np.float64)
    return assigned, C


def ivf_probe(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 4,
) -> DataFrame:
    """Probe an IVF index: exact-rerank ONLY the ``n_probe`` cells whose
    centroids are nearest the query. On an ``ivf_write``-persisted index
    the ``__list`` filter is a partition filter — pruned at the
    directory level, nothing else is even read."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    probe = np.argsort(((centroids - q[None, :]) ** 2).sum(axis=1))[:n_probe]
    cand = assigned.where(F.col("__list").isin([int(p) for p in probe]))
    return cosine_topk(cand, query_vec, k, vec_col=vec_col, id_col=id_col)


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    n_probe: int = 4,
    sample_rows: int = 10_000,
    n_iter: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Convenience build+probe in one call (ad-hoc / testing). For
    repeated queries, ``ivf_build`` + ``ivf_write`` once, then
    ``ivf_read`` + ``ivf_probe`` per query — the probe is then a
    partition-pruned scan with no full-data UDF stage."""
    assigned, C = ivf_build(
        df,
        vec_col=vec_col,
        id_col=id_col,
        n_lists=n_lists,
        sample_rows=sample_rows,
        n_iter=n_iter,
        seed=seed,
    )
    return ivf_probe(
        assigned, C, query_vec, k, vec_col=vec_col, id_col=id_col, n_probe=n_probe
    )


def embedding_cluster_dedup(
    df: DataFrame,
    *,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023),
    end-to-end: LSH-bucketed near-dup PAIRS (cosine >= threshold) →
    connected components (large-star/small-star, long-chain safe) →
    keep ONE representative per cluster (the minimum id, matching the
    exact-dedup convention) and drop the rest.

    Returns ``df`` minus non-representative near-duplicates — every
    stage is the scale path of its family: banded equi-join pairs
    (never all-pairs), O(log n) star rounds, and a final left_anti
    against the (small) drop list. Composition of
    :func:`embedding_near_dup` + ``dedup_clusters(algorithm='star')``.
    """
    from .dedup import dedup_clusters

    pairs = embedding_near_dup(
        df,
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
    )
    clusters = dedup_clusters(pairs, algorithm="star")
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("__drop_id")
    )
    return df.join(
        drop, df[id_col] == F.col("__drop_id"), "left_anti"
    )


def embedding_near_dup(
    df: DataFrame,
    *,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold.

    ``n_tables`` independent LSH tables raise recall (a pair is a
    candidate if ANY table buckets them together); the verify step is
    the exact cosine on candidate pairs only.
    """
    dim = len(df.select(vec_col).first()[0])

    # ONE vectorized pass computes every table's bucket (stacked planes,
    # one matmul per Arrow batch), then posexplode fans out to
    # (table, bucket) — vs. n_tables scans + n_tables UDF invocations
    all_planes = np.concatenate(
        [_hyperplanes(n_planes, dim, seed + t) for t in range(n_tables)]
    )
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        m = _as_matrix(vecs, dim)
        signs = (m @ all_planes.T) > 0  # (n, n_tables*n_planes)
        per_table = signs.reshape(len(m), n_tables, n_planes) @ weights
        return pd.Series(per_table.tolist())

    bucketed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        buckets(F.col(vec_col)).alias("__bs"),
    ).select(
        "id", "v", F.posexplode("__bs").alias("__table", "__bucket")
    )

    # shuffle_hash: both sides carry the full embedding column — a
    # compile-time auto-broadcast (size estimates under-count arrays)
    # would OOM at volume; AQE still broadcasts a measured-small side
    l, r = bucketed.alias("l"), bucketed.hint("shuffle_hash").alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.__table") == F.col("r.__table"))
            & (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.v").alias("v_a"),
            F.col("r.v").alias("v_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    @F.pandas_udf(T.DoubleType())
    def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = _as_matrix(va, dim)
        b = _as_matrix(vb, dim)
        num = (a * b).sum(axis=1)
        denom = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(np.where(denom > 0, num / denom, 0.0))

    return (
        cand.withColumn("score", pair_cos(F.col("v_a"), F.col("v_b")))
        .where(F.col("score") >= F.lit(threshold))
        .select("id_a", "id_b", "score")
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 8,
    n_iter: int = 5,
):
    """Fully DISTRIBUTED Lloyd's k-means over an embedding column —
    the iterative-algorithm shape (centroid state on the driver, data
    never collected): each iteration is one narrow assignment pass
    (a single distance matmul per Arrow batch against the broadcast
    k x d centroid matrix) plus one map-side-combined aggregate for
    the centroid update (explode to (cluster, dim) — k*d result rows,
    independent of corpus size).

    Unlike :func:`_kmeans_centroids` (which fits on a driver-local
    SAMPLE for IVF seeding), every row participates here. Init is
    deterministic: the k vectors with the smallest ids. Empty clusters
    keep their previous centroid. Returns ``(assigned, centroids)``
    where ``assigned`` = df + ``cluster`` column and ``centroids`` is
    the final k x d numpy array.
    """
    if k < 1 or n_iter < 1:
        raise ValueError("need k >= 1 and n_iter >= 1")
    # k tiny rows — bounded driver collect (init only)
    init = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(init) < k:
        raise ValueError(f"k={k} exceeds row count {len(init)}")
    C = np.array([r[0] for r in init], dtype=np.float64)

    # n_iter full passes over the input; UNPERSISTED before return —
    # a leaked cache of the (often base-table) input plan would shadow
    # that table for every later query in the session via cache-manager
    # plan substitution (measured: pca/covariance/gram 3x slower for
    # the rest of a bench session after one kmeans ran)
    df = df.persist()

    def _assigner(cent: np.ndarray):
        cnorm = (cent**2).sum(axis=1)

        @F.pandas_udf(T.IntegerType())
        def assign(vs: pd.Series) -> pd.Series:
            M = np.array(vs.tolist(), dtype=np.float64)
            # ||m-c||^2 = ||m||^2 - 2 m.c + ||c||^2; row term constant
            # under argmin, so one matmul per batch decides it
            d2 = cnorm[None, :] - 2.0 * (M @ cent.T)
            return pd.Series(d2.argmin(axis=1).astype("int32"))

        return assign

    for _ in range(n_iter):
        assigned = df.withColumn("cluster", _assigner(C)(F.col(vec_col)))
        upd = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()  # k*d rows — independent of data size
        )
        newC = C.copy()
        for r in upd:
            newC[r["cluster"], r["pos"]] = r["m"]
        C = newC
    # re-assign under the FINAL centroids — the loop's last `assigned`
    # reflects the previous iteration's centroids, and returning a
    # (labels, centroids) pair that disagrees would be a subtle bug.
    # The training collects above already consumed the cache; dropping
    # it here means the returned plan re-reads the source once (cheap)
    # instead of shadowing the input table session-wide.
    result = df.withColumn("cluster", _assigner(C)(F.col(vec_col)))
    df.unpersist(blocking=False)
    return result, C


# ---------------------------------------------------------------------------
# int8 embedding quantization (vector compression for the 100 TB store)


def _quantized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, __v double-vector, scale, qvec) — shared by the public
    quantizer and the round-trip check."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), dvec.alias("__v")
    )
    amax = F.array_max(F.transform("__v", lambda x: F.abs(x)))
    out = out.withColumn("scale", amax / F.lit(127.0))
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            "__v",
            lambda x: F.least(
                F.lit(127),
                F.greatest(F.lit(-127), F.floor(x / F.col("scale") + F.lit(0.5))),
            ).cast("int"),
        ),
    ).otherwise(F.transform("__v", lambda x: F.lit(0)))
    return out.withColumn("qvec", q)


def quantize_embeddings(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i / scale + 0.5)`` clamped to [-127, 127] — 4x
    smaller than float32 with reconstruction error bounded by scale/2
    per component, the standard compression step for a 100 TB embedding
    store (and the shape IVF/scalar-quantization indexes persist).
    Returns ``(id, scale, qvec)``; all-zero vectors quantize to zeros
    with scale 0; NULL vectors are dropped.

    Entirely JVM higher-order functions (transform/array_max) — no UDF,
    no shuffle: a compression backfill is one codegen'd projection over
    the store. The arithmetic is a fixed IEEE sequence on doubles, so
    any engine reproduces the bytes exactly (oracle-checked).
    """
    return _quantized(df, id_col, vec_col).select("id", "scale", "qvec")


def quantize_roundtrip_check(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Quantize + verify the reconstruction-error bound in one plan:
    ``err_ok`` asserts ``max_i |qvec_i * scale - x_i| <= scale/2`` (plus
    1e-12 for the division ulp). Returns (id, scale, qvec, err_ok)."""
    qd = _quantized(df, id_col, vec_col)
    err = F.array_max(
        F.zip_with(
            "__v", "qvec", lambda x, qv: F.abs(qv.cast("double") * F.col("scale") - x)
        )
    )
    ok = err <= F.col("scale") * F.lit(0.5) + F.lit(1e-12)
    return qd.select("id", "scale", "qvec", ok.alias("err_ok"))


def dequantize_col(qvec_col, scale_col):
    """Reconstructed double vector ``qvec * scale`` as a column
    expression (for approximate scoring over the compressed store)."""
    scale = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    return F.transform(qvec_col, lambda q: q.cast("double") * scale)


def embedding_dim_stats(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-dimension corpus statistics of an ``array<float>`` column:
    for each dimension index, (n, mean, std, vmin, vmax) — the
    feature-health profile a training pipeline runs before normalizing
    or whitening an embedding store (dead dims, scale drift, outlier
    dims all show up here).

    Determinism contract: each value is quantized to ``1/quant``
    (``round(v * quant)`` as a 64-bit integer) and every aggregate
    folds over exact integers / unbounded decimals, so the result is
    bit-identical on any layout or engine — the corr_lineitem
    fixed-point discipline applied to array columns. std is the
    population std of the quantized values, rounded to 9 digits.

    Scale shape: one posexplode (dim x rows, map-local) into a
    partial-aggregated groupBy on the dimension index — the shuffle
    carries only #partitions x dim pre-combined rows, never the
    corpus. No UDF, no window, no collect.
    """
    q = F.lit(quant).cast("double")
    ex = df.where(F.col(vec_col).isNotNull()).select(
        F.posexplode(vec_col).alias("dim", "__v")
    )
    vq = F.round(F.col("__v").cast("double") * q).cast("long")
    agg = (
        ex.select("dim", vq.alias("__vq"))
        .groupBy("dim")
        .agg(
            F.count("__vq").alias("n"),
            F.sum(F.col("__vq").cast("decimal(38,0)")).alias("__s"),
            F.sum(
                (F.col("__vq") * F.col("__vq")).cast("decimal(38,0)")
            ).alias("__s2"),
            F.min("__vq").alias("__mn"),
            F.max("__vq").alias("__mx"),
        )
    )
    n = F.col("n").cast("double")
    # mean = s / (quant*n) rounded HALF-UP at digit 9 in EXACT integer
    # arithmetic (_rounding.exact_round_div): the r11 sf0.1 sweep
    # caught the double-round shape splitting a .5 tie differently
    # across engines (s odd, n even -> s/(2e9) ends exactly in 5)
    from skylinemapreducehadoop_spark.operators._rounding import (
        exact_round_div,
    )

    agg = exact_round_div(
        agg,
        F.col("__s"),
        F.lit(quant).cast("decimal(38,0)")
        * F.col("n").cast("decimal(38,0)"),
        9,
        "mean",
        prefix="__eds",
    )
    # population variance of the quantized values: E[x^2] - E[x]^2
    var = (
        F.col("__s2").cast("double") / (q * q) / n
        - (F.col("__s").cast("double") / q / n) ** 2
    )
    return agg.select(
        "dim",
        "n",
        "mean",
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 9).alias("std"),
        (F.col("__mn").cast("double") / q).alias("vmin"),
        (F.col("__mx").cast("double") / q).alias("vmax"),
    )


def gram_matrix(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Exact distributed Gram matrix ``G[i,j] = sum_rows v_i * v_j``
    (upper triangle, i <= j) of an ``array<float>`` column — the
    one-pass sufficient statistic for PCA / whitening / covariance of
    an embedding store (covariance = G/n - mean outer mean, both
    derivable from this plus ``embedding_dim_stats``).

    Determinism: values quantize to ``1/quant`` as in
    ``embedding_dim_stats``; each product ``vq_i * vq_j`` is an exact
    64-bit integer (|v| < ~4e3 at quant=1e6) summed in decimal(38,0),
    so the fold is layout/engine-exact; ``gram`` is the decimal sum
    scaled back by ``quant^2`` and rounded to 6 digits.

    Scale shape: two chained posexplodes expand each row to
    dim*(dim+1)/2 product terms INSIDE one whole-stage-codegen span
    (no UDF, no join — the pair generator is the row's own array), and
    hash aggregation partially combines to at most dim^2/2 rows per
    partition before the only shuffle. For dim=64 that is a 2080-row
    shuffle per partition regardless of corpus size. When bit-exact
    folding is not required, the numpy path (mapInPandas computing a
    per-batch ``X.T @ X`` and emitting one partial frame) trades
    exactness for ~dim x less expansion; this operator keeps the exact
    in-plan form so the result is oracle-checkable.
    """
    q = F.lit(quant).cast("double")
    qvec = F.transform(
        F.col(vec_col), lambda v: F.round(v.cast("double") * q).cast("long")
    )
    # the chained posexplode multiplies every row ~dim^2 times in pure
    # CPU work: fan a single-split source out first (the shuffle moves
    # only the raw vectors, tiny next to the expansion)
    base = fan_out(df.where(F.col(vec_col).isNotNull()))
    ex = (
        base.select(F.posexplode(qvec).alias("i", "__vi"), qvec.alias("__qv"))
        .select("i", "__vi", F.posexplode("__qv").alias("j", "__vj"))
        .where(F.col("j") >= F.col("i"))
    )
    s = F.sum((F.col("__vi") * F.col("__vj")).cast("decimal(38,0)"))
    return (
        ex.groupBy("i", "j")
        .agg(F.round(s.cast("double") / (q * q), 6).alias("gram"))
    )


def covariance_matrix(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Exact population covariance matrix (upper triangle) of an
    ``array<float>`` column: ``cov[i,j] = E[v_i v_j] - E[v_i] E[v_j]``
    over the 1/quant-quantized values — the whitening/PCA input,
    composed IN ONE PLAN from the same sufficient statistics as
    ``gram_matrix`` + ``embedding_dim_stats``.

    Exactness: with n rows, pair sums p_ij and dim sums s_i (all
    exact integers/decimals), ``cov = (n*p_ij - s_i*s_j) / (n^2 *
    quant^2)`` — an exact decimal numerator and ONE double division,
    so the result is bit-identical on any layout/engine; rounded to
    9 digits.

    Scale shape: the pair expansion partial-aggregates to <= dim^2/2
    rows per partition before its shuffle (see ``gram_matrix``); the
    dim-sums frame is dim rows, broadcast into the pair frame twice.
    """
    q = F.lit(quant).cast("double")
    qvec = F.transform(
        F.col(vec_col), lambda v: F.round(v.cast("double") * q).cast("long")
    )
    base = fan_out(df.where(F.col(vec_col).isNotNull()))
    pairs = (
        base.select(F.posexplode(qvec).alias("i", "__vi"), qvec.alias("__qv"))
        .select("i", "__vi", F.posexplode("__qv").alias("j", "__vj"))
        .where(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(
            F.sum((F.col("__vi") * F.col("__vj")).cast("decimal(38,0)")).alias(
                "__p"
            ),
            F.count("*").alias("__n"),
        )
    )
    sums = (
        base.select(F.posexplode(qvec).alias("i", "__v"))
        .groupBy("i")
        .agg(F.sum(F.col("__v").cast("decimal(38,0)")).alias("__s"))
    )
    sj = sums.select(F.col("i").alias("j"), F.col("__s").alias("__sj"))
    n = F.col("__n").cast("decimal(38,0)")
    num = (n * F.col("__p") - F.col("__s") * F.col("__sj")).cast("double")
    den = F.col("__n").cast("double") * F.col("__n").cast("double") * q * q
    return (
        pairs.join(F.broadcast(sums), "i")
        .join(F.broadcast(sj), "j")
        .select("i", "j", F.round(num / den, 9).alias("cov"))
    )


def pca_components(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int | None = None,
    quant: int = 1_000_000,
):
    """Principal components of an ``array<float>`` column: the exact
    distributed :func:`covariance_matrix` (dim^2-bounded frame), then
    a DRIVER-SIDE eigendecomposition of the collected dim x dim
    matrix — the kmeans-centroid contract: the collect is bounded by
    the embedding dimension squared (64-dim -> 2080 upper-triangle
    rows), never by data, and the expensive pass (the pair-sum scan)
    is fully distributed.

    Returns ``(eigvals, eigvecs, means)`` as numpy arrays, components
    sorted by descending eigenvalue, truncated to ``k`` when given.
    Sign convention: each component's largest-|loading| coordinate is
    made positive (eigenvectors are sign-ambiguous; pin one).
    """
    import numpy as np

    cov_rows = covariance_matrix(df, vec_col=vec_col, quant=quant).collect()
    if not cov_rows:
        raise ValueError(
            f"pca_components: no non-null vectors in {vec_col!r}"
        )
    dim = max(r["j"] for r in cov_rows) + 1
    cov = np.zeros((dim, dim))
    for r in cov_rows:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    means_rows = embedding_dim_stats(df, vec_col=vec_col).collect()
    means = np.zeros(dim)
    for r in means_rows:
        means[r["dim"]] = r["mean"]
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1]
    eigvals, eigvecs = eigvals[order], eigvecs[:, order]
    for c in range(eigvecs.shape[1]):
        pivot = int(np.argmax(np.abs(eigvecs[:, c])))
        if eigvecs[pivot, c] < 0:
            eigvecs[:, c] = -eigvecs[:, c]
    if k is not None:
        eigvals, eigvecs = eigvals[:k], eigvecs[:, :k]
    return eigvals, eigvecs, means


def pca_project(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 2,
    quant: int = 1_000_000,
    round_digits: int = 6,
) -> DataFrame:
    """Project every row onto the top-``k`` principal components —
    the dimensionality-reduction / whitening-prep transform. The
    components come from :func:`pca_components` (driver-side eigh of
    the exact distributed covariance); the projection itself is a
    pure JVM expression: proj_c = sum_i v_i * w_ci - bias_c with the
    centering folded into the scalar ``bias_c = sum_i mean_i * w_ci``
    — zip_with + aggregate over dim-length literal arrays, no UDF,
    no shuffle (a map-only plan over the fact table).

    Returns (id, proj_0..proj_{k-1}) rounded to ``round_digits``.
    """
    import numpy as np

    eigvals, eigvecs, means = pca_components(
        df, vec_col=vec_col, k=k, quant=quant
    )
    out = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    )
    cols = [F.col("id")]
    for c in range(eigvecs.shape[1]):
        w = F.array(*[F.lit(float(x)) for x in eigvecs[:, c]])
        bias = float(np.dot(means, eigvecs[:, c]))
        dot = F.aggregate(
            F.zip_with(
                "__v", w, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
        cols.append(F.round(dot - F.lit(bias), round_digits).alias(f"proj_{c}"))
    return out.select(*cols)


def hard_negatives(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive / metric-learning data:
    for each query row, the ``k`` most cosine-similar corpus rows
    whose LABEL DIFFERS — "looks like the anchor but is another
    class", the negatives that actually move an embedding model
    (random negatives are trivially separable; hard ones carry the
    gradient).

    Plan shape: the query slate (|query_ids| rows: id, label, vector)
    is broadcast; the corpus is scored MAP-SIDE under the broadcast
    theta-join predicate ``corpus.label != query.label`` with a pure
    JVM zip_with+aggregate cosine (no UDF, vectors never shuffle);
    :func:`~skylinemapreducehadoop_spark.operators.sampling.grouped_topk`
    then keeps k per query as a map-side-combinable aggregate, so the
    wire carries only k x partitions x |queries| slim (qid, id, score)
    rows. Ranking is on the ROUNDED score (repo engine-exactness rule:
    rank membership must not hinge on BLAS-vs-sequential-fold ulps),
    ties broken by descending ``neg_id`` so the composite order is
    uniformly descending — the oracle twin is
    ``ORDER BY score DESC, neg_id DESC``.

    Returns (qid, rank, neg_id, neg_label, score), rank 1-based.

    100-TB path: exact brute force per query is one map-only pass over
    the corpus — right for an eval-sized anchor slate; for
    corpus-as-anchor-set mine from the ANN bucketed variants
    (:func:`ann_lsh`, :func:`ann_ivf`) and re-rank exactly.
    """
    return _mine_by_label(
        emb, query_ids, k, same_label=False, vec_col=vec_col,
        id_col=id_col, label_col=label_col, round_digits=round_digits,
    )


def hard_positives(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Anchor-positive mining — :func:`hard_negatives` with the label
    predicate flipped: per query row, the ``k`` most cosine-similar
    corpus rows with the SAME label (excluding the anchor itself), the
    positive side of a contrastive (anchor, positive, negatives)
    triple. Identical plan shape and exactness rules; output columns
    (qid, rank, pos_id, pos_label, score)."""
    out = _mine_by_label(
        emb, query_ids, k, same_label=True, vec_col=vec_col,
        id_col=id_col, label_col=label_col, round_digits=round_digits,
    )
    return out.select(
        "qid",
        "rank",
        F.col("neg_id").alias("pos_id"),
        F.col("neg_label").alias("pos_label"),
        "score",
    )


def _mine_by_label(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int,
    *,
    same_label: bool,
    vec_col: str,
    id_col: str,
    label_col: str,
    round_digits: int,
) -> DataFrame:
    qids = sorted({int(q) for q in query_ids})
    if not qids:
        raise ValueError("query_ids must be non-empty")
    if k < 1:
        raise ValueError("k must be >= 1")
    from .sampling import grouped_topk

    queries = emb.where(F.col(id_col).isin(qids)).select(
        F.col(id_col).alias("qid"),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).alias("__qv"),
    )
    corpus = emb.where(F.col(vec_col).isNotNull())
    label_pred = (
        F.col(label_col) == F.col("__qlabel")
        if same_label
        else F.col(label_col) != F.col("__qlabel")
    )
    joined = corpus.join(
        F.broadcast(queries),
        label_pred & (F.col(id_col) != F.col("qid")),
    )

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    dot = _dot(vec_col, "__qv")
    n_c = F.sqrt(_dot(vec_col, vec_col))
    n_q = F.sqrt(_dot("__qv", "__qv"))
    score = F.when(
        (n_c > 0) & (n_q > 0), F.round(dot / (n_c * n_q), round_digits)
    ).otherwise(F.lit(0.0))
    scored = joined.select(
        "qid",
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        score.alias("score"),
    )
    return grouped_topk(
        scored,
        ["qid"],
        ["score", "neg_id"],
        k,
        payload_cols=["neg_id", "neg_label", "score"],
    )
