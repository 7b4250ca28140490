"""Approximate-nearest-neighbor operators over embedding columns.

- ``cosine_topk``: exact brute-force baseline — broadcast the (small)
  query set against the corpus, dot products via aggregate/zip_with HOFs
  (JVM-side sequential fold), per-query top-k window. This is the
  correctness oracle and the right plan when |queries| is small (the
  corpus is scanned once, map-side only).
- ``srp_bucketed_topk``: the scale path — signed-random-projection (SRP)
  LSH buckets from deterministic md5-derived hyperplanes; candidates are
  corpus rows sharing ≥1 of the query's buckets, then exact re-rank.
  Recall < 1 by construction (tunable via n_planes/n_tables).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _with_cosine(joined: DataFrame) -> DataFrame:
    # denominator guarded: a zero-norm vector (common padding/failure
    # artifact) would DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    # and abort the whole job; cosine vs the zero vector is undefined, so
    # such pairs score NULL and never rank (windows put NULLs last in
    # DESC order; threshold filters drop them)
    denom = F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))
    return joined.withColumn(
        "cosine",
        F.when(denom > 0, _dot(F.col("va"), F.col("vb")) / denom),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = 5,
) -> DataFrame:
    """→ (query_id, rank, vec_id, cosine): exact brute-force top-k;
    ranking on the rounded cosine (cross-engine determinism) with vec_id
    tie-break."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("va")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vb"))
    joined = _with_cosine(c.crossJoin(F.broadcast(q)))
    cos = F.round(F.col("cosine"), round_digits) if round_digits is not None else F.col("cosine")
    w = Window.partitionBy("query_id").orderBy(cos.desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("c2", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.col("c2").alias("cosine"))
    )


def _srp_sign(t: int, p: int, d: int) -> float:
    """The deterministic ±1 hyperplane weight for (table, plane, dim) —
    the ONE definition of the SRP hyperplanes (``srp_weight_matrix``
    builds the encode's matmul operand from it)."""
    import hashlib

    h = int(hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:15], 16)
    return 1.0 if (h & 1) == 1 else -1.0


def srp_weight_matrix(n_planes: int, n_tables: int, dim: int) -> "np.ndarray":
    """(n_tables·n_planes, dim) float64 matrix of ``_srp_sign`` weights,
    row t·n_planes + p = hyperplane (t, p) — the encode's matmul
    operand, built driver-side once and closure-shipped."""
    return np.array(
        [
            [_srp_sign(t, p, d) for d in range(dim)]
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )


def srp_bucket_ids(vec_col, n_planes: int, n_tables: int, dim: int):
    """SRP bucket ids → array<long> of n_tables combined
    ``(table << n_planes) | bucket`` ids: bucket bit p of table t is 1
    iff Σ_d w[t,p,d]·v[d] > 0, w = ``_srp_sign``. One (batch × dim) @
    (dim × T·P) matmul per Arrow batch against the closure-shipped
    ``srp_weight_matrix`` (k·dim doubles, not per-row work) — measured
    faster than a per-row fold of T·P·dim literal-weight terms. A NULL
    vector gets an empty array (no candidates); a vector whose length is
    not ``dim`` raises ValueError in the task. BLAS-blocked summation can
    differ from a sequential sum in the last ulp, so a projection within
    an ulp of a hyperplane could flip its bit — pinned against a
    sequential-sum encode on the fixture embeddings
    (tests/test_training_ops.py)."""
    from pyspark.sql.functions import pandas_udf

    W = srp_weight_matrix(n_planes, n_tables, dim)  # (T*P, dim)
    pow2 = (1 << np.arange(n_planes, dtype=np.int64))  # bit weights per plane
    table_hi = (np.arange(n_tables, dtype=np.int64) << n_planes)
    no_buckets = np.zeros(0, dtype=np.int64)

    @pandas_udf("array<long>")
    def _enc(s: pd.Series) -> pd.Series:
        out = [no_buckets] * len(s)
        rows = np.flatnonzero(s.notna().to_numpy())
        if len(rows) == 0:
            return pd.Series(out, dtype=object)
        vecs = s.iloc[rows].tolist()
        bad = [len(v) for v in vecs if len(v) != dim]
        if bad:
            raise ValueError(f"srp_bucket_ids: dim={dim} but a vector has length {bad[0]}")
        M = np.array(vecs, dtype=np.float64)  # (B, dim)
        bits = (M @ W.T) > 0  # (B, T*P)
        buckets = (bits.reshape(len(M), n_tables, n_planes) * pow2).sum(axis=2)
        combined = buckets.astype(np.int64) + table_hi  # (B, T)
        for i, ids in zip(rows, combined):
            out[i] = ids
        return pd.Series(out, dtype=object)

    return _enc(vec_col)


def srp_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    probes: int = 1,
) -> DataFrame:
    """LSH-bucketed ANN: candidates share ≥1 (table, bucket) with the
    query; exact cosine re-rank of candidates only. Shuffle key is the
    bucket id — at 10^12 rows this replaces the full-scan crossJoin with
    a bounded bucket join.

    ``probes`` = query-side multiprobe switch: 0 = exact-bucket only,
    1 = each query also looks in the n_planes buckets one bit-flip away
    (corpus stays at one row per table — the probe fan-out is on the
    SMALL side). Only Hamming radius ≤ 1 is implemented; larger values
    are rejected rather than silently behaving like 1.
    Defaults (6 planes × 8 tables × 1 probe) give measured recall@5 ≈
    0.9-1.0 on the fixture embeddings vs the brute-force baseline
    (tests/test_training_ops.py::test_srp_recall_floor, 3 query seeds;
    recorded in COVERAGE.md). Recall theory (probes=1): per table
    P = q^p + p·q^(p-1)(1-q), q = 1 - θ/π."""
    if probes not in (0, 1):
        raise NotImplementedError("srp_bucketed_topk implements multiprobe Hamming radius 0 or 1")
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    # Bucketing pass carries ONLY (vec_id, bk): the candidate distinct's
    # Exchange is keyed on ids, never on the float vectors themselves.
    # Join key is the combined (table << n_planes) | bucket long.
    c_bk = c.withColumn(
        "bk", F.explode(srp_bucket_ids(F.col("vb"), n_planes, n_tables, dim))
    ).select("vec_id", "bk")
    qbase = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("va")
    ).withColumn("_bks", srp_bucket_ids(F.col("va"), n_planes, n_tables, dim))
    if probes >= 1:
        # a bit-flip probe in bucket bits j < n_planes is the same XOR in
        # the combined id (table bits sit above the plane bits)
        probe_arr = F.flatten(
            F.transform(
                F.col("_bks"),
                lambda b: F.array(b, *[b.bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]),
            )
        )
    else:
        probe_arr = F.col("_bks")
    q_ids = qbase.withColumn("bk", F.explode(probe_arr)).select("query_id", "bk")
    # 1) thin candidate id pairs (dedup across tables/probes — Exchange on
    #    ids only); 2) rejoin the corpus vectors with the candidate set
    #    broadcast (bounded by |queries| x bucket occupancy); 3) query
    #    vectors come back via the always-small broadcast query table.
    cand_ids = c_bk.join(F.broadcast(q_ids), "bk").select("query_id", "vec_id").distinct()
    cand = c.join(F.broadcast(cand_ids), "vec_id").join(
        F.broadcast(qbase.select("query_id", "va")), "query_id"
    )
    joined = _with_cosine(cand)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 100_000,
    iters: int = 10,
    seed: int = 42,
):
    """Deterministic IVF coarse quantizer: Lloyd's k-means on a bounded,
    deterministic corpus sample (driver-side NumPy — the trainer is
    O(sample · k · iters), independent of corpus size; the INDEXING pass
    below is what runs distributed). CONTRACT: the quantizer never sees
    rows beyond its ``sample_size`` draw — a deliberate ceiling (a
    coarse quantizer needs a representative sample, not the corpus) and
    why training is ONE Spark job, not one per Lloyd iteration. The
    sample is the ``sample_size`` rows with the smallest seeded xxhash64
    of ``id_col`` — a hash-ordered
    pseudo-random draw that is invariant under any repartitioning or AQE
    layout (unlike an unordered ``limit``) and executes as a per-partition
    top-k (TakeOrdered), never a full sort. Spherical flavor: vectors are
    L2-normalized first, so nearest-centroid-by-L2 ranks like cosine.
    Returns a (k, dim) float64 ndarray."""
    sample = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias(vec_col))
        .withColumn("_h", F.xxhash64(F.col("_id").cast("string"), F.lit(seed)))
        .orderBy("_h", "_id")
        .limit(sample_size)
        .select(vec_col)
        .toPandas()[vec_col]
    )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in sample])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)].copy()
    for _ in range(iters):
        d = x @ cent.T  # cosine similarity (all unit-norm)
        assign = d.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def ivf_assign(df: DataFrame, centroids, vec_col: str = "embedding", out_col: str = "ivf_cluster"):
    """Distributed nearest-centroid assignment (Arrow-batched pandas UDF
    over the broadcast centroid matrix) — the IVF indexing pass; at rest
    this becomes the table's partition/cluster column."""
    from pyspark.sql import types as T

    cent = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x @ cent.T).argmax(axis=1).astype("int32"))

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 5,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN: each query probes its ``n_probes`` nearest centroids;
    candidates are corpus rows assigned to those clusters (equi-join on
    the cluster id — the shuffle key, like an Iceberg partition prune);
    exact cosine re-rank of candidates only. The second scale path next
    to ``srp_bucketed_topk``; recall grows with n_probes (k-probe
    recall@5 measured in tests/test_training_ops.py)."""
    from pyspark.sql import types as T

    cent = np.asarray(centroids, dtype=np.float64)

    c = ivf_assign(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vb")),
        cent,
        vec_col="vb",
        out_col="ivf_cluster",
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _probe(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(x @ cent.T), axis=1, kind="stable")[:, :n_probes]
        return pd.Series(list(order.astype("int32")))

    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("va")
    ).withColumn("ivf_cluster", F.explode(_probe(F.col("va"))))
    cand = c.join(F.broadcast(q), "ivf_cluster").select("query_id", "va", "vec_id", "vb")
    joined = _with_cosine(cand)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN compression path. Jégou et al.
# 2011 ("Product quantization for nearest neighbor search", public):
# split the (normalized) vector into m subspaces, k-means each, store
# only the m byte-ish codes. With unit-norm vectors the dot product
# decomposes EXACTLY across subspaces, so asymmetric-distance (ADC)
# scoring is m table lookups per vector: the scan reads m codes instead
# of the full float vector — at 100 TB that is the difference between
# a memory-bandwidth-bound float scan and a ~64x-smaller code scan.
# (FAISS pairs this with IVF lists; here `ivf_assign`'s cluster column
# is the storage-level analog — prune partitions, then ADC-scan codes.)


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 100_000,
    iters: int = 10,
    seed: int = 42,
):
    """Per-subspace Lloyd's k-means on the hash-ordered deterministic
    sample (the `train_ivf_centroids` draw — layout-invariant, bounded).
    Vectors are L2-normalized FIRST, so ADC inner products rank like
    cosine. Returns an (m, n_codes, dim/m) float64 ndarray; requires
    dim % m == 0. Same sample-ceiling contract as the IVF trainer."""
    sample = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias(vec_col))
        .withColumn("_h", F.xxhash64(F.col("_id").cast("string"), F.lit(seed)))
        .orderBy("_h", "_id")
        .limit(sample_size)
        .select(vec_col)
        .toPandas()[vec_col]
    )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in sample])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m
    books = np.empty((m, n_codes, sd), dtype=np.float64)
    for j in range(m):
        xs = x[:, j * sd : (j + 1) * sd]
        rng = np.random.RandomState(seed + j)
        cent = xs[rng.choice(len(xs), size=min(n_codes, len(xs)), replace=False)].copy()
        for _ in range(iters):
            # plain L2 on the subvector (NOT re-normalized — subspace
            # norms carry real magnitude information)
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        if len(cent) < n_codes:  # tiny-sample degenerate fill
            cent = np.vstack([cent, np.repeat(cent[-1:], n_codes - len(cent), axis=0)])
        books[j] = cent
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Distributed PQ indexing pass: per subspace, the nearest-codeword
    index (exact L2 argmin) — one Arrow-batched matmul per subspace over
    the broadcast codebooks → (.., array<int> codes). Deterministic for
    any partition layout (argmin over deterministic floats, first-hit
    tie)."""
    from pyspark.sql import types as T

    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, sd = books.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(x), m), dtype="int32")
        for j in range(m):
            xs = x[:, j * sd : (j + 1) * sd]
            # ||x-c||^2 argmin == argmax(x·c − ||c||²/2): one matmul
            s = xs @ books[j].T - 0.5 * (books[j] ** 2).sum(axis=1)
            out[:, j] = s.argmax(axis=1).astype("int32")
        return pd.Series(list(out))

    return corpus.withColumn(out_col, _enc(F.col(vec_col)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ/ADC ANN: encode the corpus — or scan a PRE-ENCODED ``codes``
    table (vec_id, pq_codes), the at-rest form where the bandwidth win
    is real: the scan job reads the ~64×-smaller codes parquet and the
    float vectors are touched only by the id-keyed re-rank fetch of the
    pooled oversample·k candidates — ADC-score every code row against
    each query via the m×n lookup table, keep the per-partition ADC
    top-(oversample·k) per query (exact global union — each partition
    keeps its own best, the global top is a subset), then EXACT cosine
    re-rank of the pooled candidates → (query_id, rank, vec_id, cosine).

    Queries ride the closure as a small ndarray (the same bounded-query
    contract as `cosine_topk`); the corpus-side scan reads m int codes
    per row — the bandwidth win that makes the full scan viable where a
    float scan is not. Partition-layout-invariant by construction: ADC
    scores are deterministic and the per-partition cut keeps every
    candidate that could reach the global top-(oversample·k) with the
    (score desc, vec_id asc) tie order.
    """
    from pyspark.sql import types as T

    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, sd = books.shape
    qpdf = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).toPandas()
    qids = qpdf["query_id"].to_numpy()
    qx = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["_qv"]])
    qx = qx / np.maximum(np.linalg.norm(qx, axis=1, keepdims=True), 1e-12)
    # LUT[q, j, c] = q_sub_j · codebook[j][c]  (dot decomposes exactly)
    lut = np.einsum("qjd,jcd->qjc", qx.reshape(len(qx), m, sd), books)
    keep = oversample * k

    if codes is not None:
        coded = codes.select(F.col(id_col).alias("vec_id"), "pq_codes")
    else:
        coded = pq_encode(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")),
            books,
            id_col="vec_id",
            vec_col="_v",
        ).select("vec_id", "pq_codes")

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def _scan(batches):
        for pdf in batches:
            codes = np.stack(pdf["pq_codes"].to_numpy()).astype("int64")  # (n, m)
            vids = pdf["vec_id"].to_numpy()
            # scores (n, q): gather LUT per subspace and sum
            s = np.zeros((len(codes), len(qids)), dtype=np.float64)
            for j in range(m):
                s += lut[:, j, :][:, codes[:, j]].T
            for qi in range(len(qids)):
                col = s[:, qi]
                # exact per-partition cut: top-keep by (adc desc, vec_id asc)
                order = np.lexsort((vids, -col))[:keep]
                yield pd.DataFrame(
                    {"query_id": qids[qi], "vec_id": vids[order], "adc": col[order]}
                )

    cand = coded.mapInPandas(_scan, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("vec_id").asc())
    pooled = cand.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= keep)
    # exact cosine re-rank of the pooled candidates
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    qdf = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("va")
    )
    joined = _with_cosine(
        pooled.select("query_id", "vec_id")
        .join(vecs, "vec_id")
        .join(F.broadcast(qdf), "query_id")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    k: int = 5,
    n_probes: int = 4,
    oversample: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF+PQ — the composed 100-TB ANN layout (FAISS's IVFADC, Jégou
    et al. 2011 §IV): the IVF cluster column prunes which rows are
    READ (at rest: partition/cluster pruning on the stored table), and
    within the probed lists the scan touches only the m PQ codes per
    row. One indexing pass computes both the cluster id and the codes;
    each query probes its ``n_probes`` nearest centroids (equi-join on
    cluster — the same prune as `ivf_topk`), candidates are ADC-scored
    via the per-query lookup table inside one Arrow batch pass, the
    exact per-query top-(oversample·k) cut pools, and the final ranks
    are an exact cosine re-rank. Layout-invariant end to end.
    """
    from pyspark.sql import types as T

    cent = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, sd = books.shape

    qpdf = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).toPandas()
    qx = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["_qv"]])
    qx = qx / np.maximum(np.linalg.norm(qx, axis=1, keepdims=True), 1e-12)
    luts = {
        qid: np.ascontiguousarray(
            np.einsum("jd,jcd->jc", qx[i].reshape(m, sd), books)
        )
        for i, qid in enumerate(qpdf["query_id"])
    }
    probe = {
        qid: np.argsort(-(qx[i] @ cent.T), kind="stable")[:n_probes].tolist()
        for i, qid in enumerate(qpdf["query_id"])
    }
    keep = oversample * k

    # ONE indexing pass: cluster id + codes (at rest this is the table's
    # layout — cluster partition column, codes a stored column)
    indexed = pq_encode(
        ivf_assign(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")),
            cent,
            vec_col="_v",
        ),
        books,
        vec_col="_v",
    ).select("vec_id", "ivf_cluster", "pq_codes")

    probe_rows = [(int(qid), c) for qid, cs in probe.items() for c in cs]
    qprobe = queries.sparkSession.createDataFrame(
        probe_rows, "query_id long, ivf_cluster int"
    )
    cand = indexed.join(F.broadcast(qprobe), "ivf_cluster")

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["pq_codes"].to_numpy()).astype("int64")
            vids = pdf["vec_id"].to_numpy()
            qids_b = pdf["query_id"].to_numpy()
            out = np.empty(len(pdf), dtype=np.float64)
            for qid in np.unique(qids_b):
                mask = qids_b == qid
                lut = luts[int(qid)]
                c = codes[mask]
                s = np.zeros(mask.sum(), dtype=np.float64)
                for j in range(m):
                    s += lut[j][c[:, j]]
                out[mask] = s
            yield pd.DataFrame({"query_id": qids_b, "vec_id": vids, "adc": out})

    scored = cand.mapInPandas(_score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("vec_id").asc())
    pooled = scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= keep)
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    qdf = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("va")
    )
    joined = _with_cosine(
        pooled.select("query_id", "vec_id").join(vecs, "vec_id").join(F.broadcast(qdf), "query_id")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    class_col: str = "label",
    query_id_col: str = "query_id",
    round_digits: int | None = 4,
) -> DataFrame:
    """(query_id, rank, vec_id, neg_label, cosine): per anchor, the
    top-k most cosine-similar corpus vectors whose ``class_col``
    DIFFERS from the anchor's — contrastive hard-negative mining (the
    "most confusable wrong answer" set retrieval/embedding training
    loops feed their loss; cf. DPR / SimCSE negative sampling).
    Ranking on the rounded cosine with vec_id tie-break (the engine's
    ANN determinism contract); same-class rows are excluded BEFORE the
    window, so rank is dense over negatives.

    Scale note: this is the EXACT baseline form (the corpus crossJoin
    against a BROADCAST anchor set — the cosine_topk precedent: the
    one crossJoin in the engine, by design, for bounded anchor sets).
    For web-scale anchor sets, run ``srp_bucketed_topk`` per class
    partition (negatives = buckets of every OTHER class) — the
    exclusion then rides the bucket key, not a post-filter.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("va"),
        F.col(class_col).alias("_qc"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vb"),
        F.col(class_col).alias("neg_label"),
    )
    joined = _with_cosine(c.crossJoin(F.broadcast(q))).filter(
        F.col("neg_label") != F.col("_qc")
    )
    cos = F.round(F.col("cosine"), round_digits) if round_digits is not None else F.col("cosine")
    w = Window.partitionBy("query_id").orderBy(cos.desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("c2", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "neg_label", F.col("c2").alias("cosine"))
    )


def rrf_fuse(
    rankings,
    id_col: str = "vec_id",
    query_col: str | None = "query_id",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009 — the default way
    search stacks combine rankers, e.g. BM25 + dense ANN) →
    ([query], id, rrf_num, rrf_den, rrf, best_rank): score =
    Σ_rankers 1/(k + rank), summed over every input ranking the item
    appears in. Kept EXACT as a rational: rrf_num/rrf_den accumulate
    by exact-int cross-multiplication in one fold over the collected
    rank array, so the fused ORDER is engine-portable with no float
    tie ambiguity (rrf the double is derived, one division).

    Scale shape: union the (already small) top-k ranking tables, one
    groupBy((query), id) with an in-row fold — no joins between
    rankers, no window. Input frames need ([query_col], id_col,
    'rank'); k must be ≥ 1 (60 is the paper's constant).
    """
    if not rankings:
        raise ValueError("need at least one ranking")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    keys = ([query_col] if query_col else []) + [id_col]
    u = None
    for r in rankings:
        sel = r.select(*keys, F.col("rank").cast("long").alias("rank"))
        u = sel if u is None else u.unionByName(sel)
    g = u.groupBy(*keys).agg(
        F.collect_list("rank").alias("_rs"), F.min("rank").alias("best_rank")
    )
    # exact rational sum: num/den += 1/(k+r)  =>  num = num*(k+r) + den
    acc0 = F.struct(F.lit(0).cast("long").alias("n"), F.lit(1).cast("long").alias("d"))
    folded = F.aggregate(
        F.col("_rs"),
        acc0,
        lambda a, r: F.struct(
            (a["n"] * (r + k) + a["d"]).alias("n"),
            (a["d"] * (r + k)).alias("d"),
        ),
    )
    g = g.withColumn("_f", folded)
    return g.select(
        *keys,
        F.col("_f.n").alias("rrf_num"),
        F.col("_f.d").alias("rrf_den"),
        (F.col("_f.n").cast("double") / F.col("_f.d")).alias("rrf"),
        "best_rank",
    )


def ndcg_at_k(
    ranking: DataFrame,
    rel_col: str = "rel",
    query_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """(query, n_rel, dcg, idcg, ndcg): nDCG@k of a ranked result table
    — THE graded retrieval metric (Järvelin & Kekäläinen 2002),
    closing the engine's eval loop next to the recall floors and
    :func:`rrf_fuse`. DCG = Σ rel_i/log2(i+1) over ranks ≤ k; the
    ideal ranking re-sorts the SAME k rows by relevance desc (ties by
    rank — deterministic), so ndcg = dcg/idcg ∈ [0, 1], NULL when no
    row is relevant (0/0 is "undefined", not "perfect").

    Per-query work is k rows: two in-row sorts over collected arrays,
    one fold each — no second window, no join. log2-floats carry
    ROUND(·, 6) on all three outputs (≤ k-term sums).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    g = ranking.filter(F.col("rank") <= k).groupBy(query_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("rank"), F.col(rel_col).cast("double").alias("rel")))
        ).alias("_byrank"),
        F.sum((F.col(rel_col) > 0).cast("long")).alias("n_rel"),
    )
    dcg = F.aggregate(
        F.col("_byrank"),
        F.lit(0.0),
        lambda a, e: a + e["rel"] / F.log2(e["rank"].cast("double") + 1),
    )
    ideal = F.array_sort(
        F.transform(F.col("_byrank"), lambda e: F.struct((-e["rel"]).alias("nr"), e["rank"]))
    )
    idcg = F.aggregate(
        F.zip_with(
            ideal,
            F.sequence(F.lit(1), F.size(ideal)),
            lambda e, i: F.struct((-e["nr"]).alias("rel"), i.alias("pos")),
        ),
        F.lit(0.0),
        lambda a, e: a + e["rel"] / F.log2(e["pos"].cast("double") + 1),
    )
    g = g.withColumn("_dcg", dcg).withColumn("_idcg", idcg)
    return g.select(
        query_col,
        F.col("n_rel").cast("long").alias("n_rel"),
        F.round("_dcg", 6).alias("dcg"),
        F.round("_idcg", 6).alias("idcg"),
        F.when(F.col("_idcg") > 0, F.round(F.col("_dcg") / F.col("_idcg"), 6)).alias("ndcg"),
    )
