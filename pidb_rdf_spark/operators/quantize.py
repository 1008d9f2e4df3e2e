"""Embedding quantization: symmetric per-vector int8.

The storage half of ANN at scale: a float32 corpus quantized to int8
is 4x smaller on disk and in broadcast, which directly raises the
ceiling of the broadcast-matrix exact-cosine path
(``dedup.embedding_near_dup_pairs``) and shrinks IVF bucket spill.
Symmetric per-vector scaling (`scale = max|x| / 127`) keeps dot
products rank-accurate to ~1% for unit-norm embeddings — the standard
faiss SQ8-style trade.

All built-in higher-order functions (transform / array_max /
aggregate) — whole-stage codegen, zero shuffle, no Python in the
loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pidb_rdf_spark.session import local_frame


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, scale, qvec): per-vector symmetric int8 quantization.
    ``x ≈ qvec[i] * scale`` with ``qvec[i] ∈ [-127, 127]``; an
    all-zero vector quantizes to zeros with scale 0.

    The scale is computed ONCE per row into its own column before the
    per-element transform references it: higher-order-function
    lambdas get no cross-element CSE, so inlining the array_max
    expression into the lambda body would re-scan the whole array per
    element — O(d²) work per row (the re-inline pitfall winnow.py
    documents)."""
    if "scale" in df.columns:
        raise ValueError("df already has reserved column: 'scale'")
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    staged = df.withColumn("scale", max_abs / F.lit(127.0))
    sc = F.col("scale")
    qvec = F.when(
        sc == 0,
        F.transform(v, lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(v, lambda x: F.round(x / sc).cast("int"))
    )
    return staged.select(
        F.col(id_col),
        sc.alias("scale"),
        qvec.alias("qvec"),
    )


def dequantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", qvec_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """(id, embedding): reconstruct float vectors from int8 + scale."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)
        ).alias("embedding"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the third leg of the faiss-style stack
# (SQ8 storage above, IVF partitioning in similarity.py, PQ here) —
# m subspace codebooks of k centroids each compress a d-dim float32
# vector to m small codes (m=4, k=16 ⇒ 4 bytes/vector vs 256), and
# asymmetric-distance search (ADC) ranks candidates from codes alone:
# at 100 TB the corpus never ships vectors through a shuffle, only
# (id, subspace, code) rows against a broadcast lookup table.
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    max_train: int = 100_000,
) -> list:
    """Per-subspace codebooks: ``m`` independent deterministic
    k-means runs (``similarity.kmeans_centroids``: init = lowest-id
    vectors, bounded driver-side sample) over contiguous dim slices.
    Returns ``m`` lists of ``k`` centroids of ``dim/m`` floats.

    One collect for all subspaces (the bounded training sample is
    fetched once and sliced driver-side — m Spark jobs collapse to
    one; same per-subspace result as independent runs because the
    subspace k-means never mix)."""
    import numpy as np

    from pidb_rdf_spark.operators.similarity import lloyd_numpy

    rows = (
        df.orderBy(F.col(id_col).asc())
        .limit(max_train)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError(
            "pq_train: empty training input (the numpy kernel would "
            "fail with a cryptic shape error)"
        )
    M = np.array([r[0] for r in rows], dtype=np.float64)
    dim = M.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    return [
        lloyd_numpy(M[:, s * sub:(s + 1) * sub], k, iters)
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, subspace, code): nearest codebook entry per subspace —
    ONE Arrow-batched pass over the corpus (all subspaces coded in a
    single vectorized kernel; ties to the lower code index, same
    argmin convention as ``assign_clusters``), then a posexplode to
    the long, atomic-column layout. No shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cs = [np.array(cb, dtype=np.float64) for cb in codebooks]
    sub = Cs[0].shape[1]

    def codes(v):
        M = np.array(list(v), dtype=np.float64)
        out = np.empty((len(M), len(Cs)), dtype=np.int32)
        for s, C in enumerate(Cs):
            X = M[:, s * sub:(s + 1) * sub]
            d2 = (
                (X * X).sum(1, keepdims=True)
                - 2.0 * (X @ C.T)
                + (C * C).sum(1)[None, :]
            )
            out[:, s] = d2.argmin(1)
        return pd.Series(list(out))

    codes.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # pure; see assign_clusters — blocks §4.4 kernel duplication
    codes_udf = pandas_udf(codes, "array<int>").asNondeterministic()
    return df.select(
        F.col(id_col), F.posexplode(codes_udf(F.col(vec_col)))
    ).select(
        id_col,
        F.col("pos").cast("long").alias("subspace"),
        F.col("col").cast("long").alias("code"),
    )


def pq_reconstruct(
    codes: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, embedding): approximate vectors from PQ codes — each
    code looks up its subspace centroid in a literal (broadcast-
    inlined) codebook tensor, subspaces re-assembled in order. One
    shuffle on id (the assembly groupBy)."""
    cb = F.array(*[
        F.array(*[
            F.array(*[F.lit(float(x)) for x in cent]) for cent in book
        ])
        for book in codebooks
    ])
    sub_vec = F.element_at(
        F.element_at(cb, (F.col("subspace") + 1).cast("int")),
        (F.col("code") + 1).cast("int"),
    )
    return (
        codes.select(F.col(id_col), F.col("subspace"), sub_vec.alias("__sv"))
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("subspace", "__sv"))
                    ),
                    lambda x: x["__sv"],
                )
            ).alias("embedding")
        )
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, rank, neighbor_id): asymmetric-distance top-k by
    inner product — exact queries against PQ-compressed corpus.

    The ADC identity: dot(q, reconstruct(codes)) =
    Σ_s dot(q_s, codebook[s][code_s]), so scoring needs only a
    per-query lookup table of m×k partial dots (built driver-side
    from the collected queries — bounded by queries, never corpus)
    broadcast-joined to the code rows: codes are all that moves, the
    100 TB shape. Ranking ties break by neighbor id."""
    import numpy as np

    from pyspark.sql import Window

    Cs = [np.array(cb, dtype=np.float64) for cb in codebooks]
    sub = Cs[0].shape[1]
    qrows = queries.select(query_id_col, vec_col).collect()
    lut = []
    for qid, qv in qrows:
        q = np.array(qv, dtype=np.float64)
        for s, C in enumerate(Cs):
            parts = C @ q[s * sub:(s + 1) * sub]
            lut.extend(
                (qid, s, int(c), float(p)) for c, p in enumerate(parts)
            )
    # the LUT is |q|·m·k rows (driver-built)
    lut_df = local_frame(
        codes.sparkSession, lut,
        f"{query_id_col} long, subspace long, code long, __part double",
    )
    scored = (
        codes.join(F.broadcast(lut_df), on=["subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__part").alias("__score"))
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", F.col(id_col).alias("neighbor_id"))
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: list,
    codebooks: list,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    assigned: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ combined search (the faiss IVFPQ shape, flat-coded):
    coarse clusters prune the candidate set (only vectors in each
    query's ``nprobe`` nearest cells are considered), PQ codes +
    broadcast lookup tables rank them by asymmetric inner product.

    At 100 TB: the corpus is stored as (id, cluster) + (id, subspace,
    code) — a few bytes per vector; search shuffles only id-sized
    candidate rows. Probe lists are computed driver-side from the
    collected queries (bounded by queries, never corpus), same as
    ``similarity.ivf_search_indexed``.

    ``assigned`` / ``codes``: optionally the precomputed
    ``assign_clusters`` / ``pq_encode`` frames over this corpus with
    these centroids/codebooks — callers that already materialized
    them (the ANN composite) share one kernel pass instead of
    re-running both over the full corpus (r14, guide §1.2/§8)."""
    import numpy as np

    from pyspark.sql import Window

    from pidb_rdf_spark.operators.similarity import assign_clusters

    spark = corpus.sparkSession
    if assigned is None:
        assigned = assign_clusters(corpus, coarse_centroids, id_col, vec_col)
    assigned = assigned.select(F.col(id_col), F.col("cluster"))
    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col, vec_col)

    C = np.array(coarse_centroids, dtype=np.float64)
    nprobe = min(nprobe, len(coarse_centroids))
    qrows = queries.select(query_id_col, vec_col).collect()
    probes = []
    lut = []
    Cs = [np.array(cb, dtype=np.float64) for cb in codebooks]
    sub = Cs[0].shape[1]
    for qid, qv in qrows:
        q = np.array(qv, dtype=np.float64)
        d2 = (q * q).sum() - 2.0 * (C @ q) + (C * C).sum(1)
        for cl in np.argsort(d2, kind="stable")[:nprobe]:
            probes.append((qid, int(cl)))
        for s, Csub in enumerate(Cs):
            for c, p in enumerate(Csub @ q[s * sub:(s + 1) * sub]):
                lut.append((qid, s, int(c), float(p)))
    # driver-built, query-sized lists (|q|·nprobe and |q|·m·k rows)
    probes_df = local_frame(spark, probes, f"{query_id_col} long, cluster int")
    lut_df = local_frame(
        spark, lut,
        f"{query_id_col} long, subspace long, code long, __part double",
    )
    cand = assigned.join(F.broadcast(probes_df), on="cluster").select(
        query_id_col, id_col
    )
    scored = (
        cand.join(codes, on=id_col)
        .join(F.broadcast(lut_df), on=[query_id_col, "subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__part").alias("__score"))
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", F.col(id_col).alias("neighbor_id"))
    )


# ---------------------------------------------------------------------------
# random projection (sparse Johnson-Lindenstrauss) dimensionality cut
# ---------------------------------------------------------------------------


def jl_matrix(in_dim: int, out_dim: int, salt: str = "jl"):
    """Deterministic Achlioptas sparse-JL matrix (out_dim x in_dim):
    entry(i, j) is +s / 0 / -s with probability 1/6, 2/3, 1/6 where
    s = sqrt(3 / out_dim) — decided by md5(salt:i:j), so every
    engine, executor, and rerun builds the SAME matrix (no RNG
    state). Driver-side but bounded by dims, never by data — the
    k-means-centroid class of small state."""
    import hashlib

    import numpy as np

    s = (3.0 / out_dim) ** 0.5
    m = np.zeros((out_dim, in_dim))
    for i in range(out_dim):
        for j in range(in_dim):
            h = int(
                hashlib.md5(f"{salt}:{i}:{j}".encode()).hexdigest()[:13], 16
            ) % 6
            if h == 0:
                m[i, j] = s
            elif h == 1:
                m[i, j] = -s
    return m


def random_projection(
    df: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project the
    embedding column to ``out_dim`` with the deterministic sparse
    Achlioptas matrix — the standard pre-ANN shrink (pairwise
    distances preserved within 1±eps for out_dim ~ 8 ln n / eps²),
    cutting every downstream shuffle/broadcast by in_dim/out_dim.

    Scale shape: the matrix broadcasts (out_dim x in_dim floats);
    each Arrow batch does ONE BLAS matmul inside ``mapInPandas`` —
    no shuffle, no per-row Python. Deterministic end to end, so the
    projected values replay exactly in a SQL oracle."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("random_projection: empty input")
    in_dim = first["d"]
    if not 1 <= out_dim <= in_dim:
        raise ValueError("need 1 <= out_dim <= in_dim")
    m = jl_matrix(in_dim, out_dim, salt)
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(vec_col, ArrayType(DoubleType())),
        ]
    )

    def project(batches):
        for pdf in batches:
            vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            out = vecs @ m.T
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: list(map(list, out))}
            )

    return df.select(id_col, vec_col).mapInPandas(project, schema)


def pca_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> dict:
    """Fit PCA over the embedding column -> ``{"mean", "components",
    "eigenvalues"}`` (components: k x d rows, eigenvalue-descending).
    The standard embedding-pipeline shrink when the spectrum matters
    (JL preserves distances obliviously; PCA keeps the top variance
    directions — SemDeDup-style pipelines whiten before cosine).

    Scale shape: ONE distributed pass computes the d-vector sum and
    the d x d Gram matrix as per-Arrow-batch BLAS partial sums (one
    small row per batch, never the data); the d x d
    eigendecomposition runs driver-side in numpy — state is d²
    floats, corpus-size-independent (the k-means-centroid class).
    Deterministic for a fixed partitioning (partials reduce in a
    fixed driver-side order) and reproducible across partitionings to
    float64 summation error (~1e-12 relative — batch boundaries
    change WHICH values each partial sums); each component's sign is
    canonicalized (largest-|coordinate| entry positive) so equivalent
    fits agree exactly in orientation.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pca_fit: empty input")
    d = first["d"]
    if not 1 <= k <= d:
        raise ValueError("need 1 <= k <= dim")

    schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
            StructField("g", ArrayType(DoubleType())),
        ]
    )

    def partials(batches):
        for pdf in batches:
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(X) == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    rows = df.select(vec_col).mapInPandas(partials, schema).collect()
    if not rows:
        raise ValueError("pca_fit: empty input")
    # fixed reduction order (sorted by partial fingerprint) so the
    # float64 sum is partitioning-independent
    rows = sorted(rows, key=lambda r: (r["n"], r["s"][0], r["g"][0]))
    n = sum(r["n"] for r in rows)
    s = np.zeros(d)
    G = np.zeros((d, d))
    for r in rows:
        s += np.array(r["s"])
        G += np.array(r["g"]).reshape(d, d)
    mean = s / n
    cov = G / n - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigval)[::-1][:k]
    comps = eigvec[:, order].T  # k x d
    for i in range(k):  # sign canonicalization
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "eigenvalues": eigval[order].tolist(),
    }


def pca_project(
    df: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
) -> DataFrame:
    """Project embeddings onto a :func:`pca_fit` model — (x - mean) @
    components.T, optionally whitened (divide each coordinate by
    sqrt(eigenvalue); zero-variance directions raise rather than
    divide by ~0). The model broadcasts (k x d floats); each Arrow
    batch is ONE BLAS matmul inside ``mapInPandas`` — no shuffle, no
    per-row Python."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    mean = np.array(model["mean"], dtype=np.float64)
    W = np.array(model["components"], dtype=np.float64)
    scale = None
    if whiten:
        ev = np.array(model["eigenvalues"], dtype=np.float64)
        if (ev <= 1e-12).any():
            raise ValueError(
                "pca_project(whiten=True): a zero-variance component "
                "cannot be whitened — drop it (smaller k) or disable "
                "whitening"
            )
        scale = 1.0 / np.sqrt(ev)
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(vec_col, ArrayType(DoubleType())),
        ]
    )

    def project(batches):
        for pdf in batches:
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = (X - mean) @ W.T
            if scale is not None:
                out = out * scale
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: list(map(list, out))}
            )

    return df.select(id_col, vec_col).mapInPandas(project, schema)
