"""Similarity search over embedding columns (BASELINE.json north-star
extension): brute-force cosine top-k baseline + IVF and signature-LSH
scale paths.

Scale shape: queries are small (broadcast), the corpus is the 100 TB side —
a single map pass computes scores, a top-k window per query reduces. The
IVF variant prunes the corpus pass to the probed cells: corpus is
pre-assigned to centroids (one narrow column), queries probe nprobe cells,
and the join on cell id cuts scanned vectors by ~ncells/nprobe.

Every op preps each side once (cast/quantize + squared norm,
``neardup.prep_vectors``) below the pairwise join, so per-pair work is the
dot product only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .neardup import _splitmix64, pair_cosine, prep_vectors


def _signature_df(
    df: DataFrame, id_col: str, vec_col: str, bits: int
) -> DataFrame:
    """(id, sig) where ``sig`` is a ``bits``-bit SimHash signature packed
    into ``bits/64`` longs — one numpy GEMM per Arrow batch. Coefficients
    are deterministic (splitmix64 of (plane, dim)), so corpus and query
    sides always agree."""
    if bits % 64:
        raise ValueError(f"bits must be a multiple of 64, got {bits}")
    words = bits // 64
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("sig", T.ArrayType(T.LongType(), False)),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        coef = None
        for pdf in it:
            if not len(pdf):
                continue
            x = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if coef is None:
                dim = x.shape[1]
                coef = np.empty((bits, dim), dtype=np.float64)
                for p in range(bits):
                    for j in range(dim):
                        coef[p, j] = (
                            1.0 if _splitmix64(p * 1_000_003 + j) & 1 else -1.0
                        )
            signs = (x @ coef.T) > 0  # rows x bits
            grouped = signs.reshape(len(pdf) * words, 64)
            vals = np.zeros(len(pdf) * words, dtype=np.uint64)
            for j in range(64):
                vals |= grouped[:, j].astype(np.uint64) << np.uint64(j)
            packed = vals.view(np.int64).reshape(len(pdf), words)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "sig": list(packed)}
            )

    return df.select(id_col, vec_col).mapInPandas(batches, schema=out_schema)


def simhash_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    bits: int = 512,
    m: int | None = None,
    cand_frac: float = 0.05,
    min_cand: int = 25,
    query_id_col: str | None = None,
    scale: int | None = 1_000_000,
) -> DataFrame:
    """Signature-LSH top-k: rank the corpus by Hamming distance between
    ``bits``-bit SimHash signatures, keep the ``m`` best candidates per
    query, then exact-rescore only those with quantized cosine.

    Why this and not bucketed multi-table LSH for the registry fixture: on
    isotropic (near-random) embeddings the true top-10 sit at cosine
    ~0.25-0.39 while the noise p99 is ~0.30, so per-plane agreement is
    ~0.60 vs 0.50 for noise — bucket enrichment is too weak to hold
    recall>=0.5 below ~40% candidate fraction at ANY planes/tables
    (measured: 16 planes x 128 tables = recall 0.16 @ 0.8%; 4x8 = 0.74 @
    41%). Long signatures concentrate the same projections instead of
    thresholding them: 512 bits at m=5% measures recall@10 = 0.80 / 0.92 /
    0.96 on the sf0.001/0.01/0.1 corpora.

    Scale shape (FAISS IndexBinaryFlat pattern): the prefilter scans
    64-byte codes with XOR+popcount (JVM ``bit_count`` expressions, no
    Python) instead of full float vectors — 4x less data at dim=64, ~48x at
    dim=768 — then exact scoring touches only n_queries x m rows. Query
    side is broadcast; the corpus signature scan is one map pass; the only
    shuffles are the two per-query top-m/top-k windows over already-reduced
    rows. ``m`` defaults to max(min_cand, cand_frac*|corpus|) via one
    narrow count job at plan time (an index-build-time cost).
    """
    qid = query_id_col or id_col
    if m is None:
        import math as _math

        m = max(min_cand, k, int(_math.ceil(cand_frac * corpus.count())))

    qsig = _signature_df(queries, qid, vec_col, bits).select(
        F.col("id").alias("query_id"), F.col("sig").alias("__qsig")
    )
    csig = _signature_df(corpus, id_col, vec_col, bits).select(
        F.col("id").alias("neighbor_id"), "sig"
    )
    ham = csig.join(F.broadcast(qsig)).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(
                F.col("sig"),
                F.col("__qsig"),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("__ham"),
    )
    wm = Window.partitionBy("query_id").orderBy(F.asc("__ham"), F.asc("neighbor_id"))
    cand_ids = (
        ham.withColumn("__rn", F.row_number().over(wm))
        .filter(F.col("__rn") <= m)
        .select("query_id", "neighbor_id")
    )

    q = prep_vectors(queries, qid, vec_col, scale).select(
        F.col("id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    c = prep_vectors(corpus, id_col, vec_col, scale).select(
        F.col("id").alias("neighbor_id"), "__v", "__n"
    )
    scored = (
        cand_ids.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            pair_cosine(
                F.col("__qv"), F.col("__qn"), F.col("__v"), F.col("__n"),
                integer=scale is not None,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
    k: int = 10,
    scale: int | None = 1_000_000,
) -> DataFrame:
    """Exact top-k neighbors per query vector (default: integer-quantized
    cosine for cross-engine-exact scoring; ``scale=None`` for raw float).

    Broadcast the (small) query side; the corpus is scanned once, no
    shuffle until the per-query top-k reduction. Deterministic: ties broken
    by neighbor id.
    """
    q = prep_vectors(queries, query_id_col or id_col, vec_col, scale).select(
        F.col("id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    c = prep_vectors(corpus, id_col, vec_col, scale).select(
        F.col("id").alias("neighbor_id"), "__v", "__n"
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        pair_cosine(
            F.col("__qv"), F.col("__qn"), F.col("__v"), F.col("__n"),
            integer=scale is not None,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    filter_cols: "list[str] | tuple[str, ...]",
    query_id_col: str | None = None,
    k: int = 10,
    scale: int | None = 1_000_000,
) -> DataFrame:
    """Metadata-FILTERED exact top-k vector search: neighbors must match
    the query row on ``filter_cols`` (tenant id, language, label …) —
    the "filtered vector search" every retrieval stack needs once
    corpora are multi-tenant. Pre-filtering semantics: the metadata
    equi-join prunes candidates BEFORE any scoring, so the plan is a
    broadcast HASH join on the filter key (brute force is a broadcast
    nested loop over everything), one corpus scan, then the per-query
    top-k window. Post-filtering an unfiltered ANN result would return
    < k rows for selective filters; this never does. Deterministic:
    quantized-cosine scoring, ties broken by neighbor id."""
    fc = list(filter_cols)
    if not fc:
        raise ValueError("filtered_topk needs at least one filter column")
    q = prep_vectors(
        queries, query_id_col or id_col, vec_col, scale, keep=tuple(fc)
    ).select(
        F.col("id").alias("query_id"),
        *fc,
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    c = prep_vectors(corpus, id_col, vec_col, scale, keep=tuple(fc)).select(
        F.col("id").alias("neighbor_id"), *fc, "__v", "__n"
    )
    scored = c.join(F.broadcast(q), fc).select(
        "query_id",
        "neighbor_id",
        pair_cosine(
            F.col("__qv"), F.col("__qn"), F.col("__v"), F.col("__n"),
            integer=scale is not None,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def kmeans_fit(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    max_iter: int = 5,
) -> pd.DataFrame:
    """Distributed Lloyd's k-means over an embedding column, returning a
    small pandas frame ``(centroid_id, centroid_vec)`` ready to feed
    ``build_ivf_index``/``ivf_topk`` (the real IVF index build; the
    registry fixture's hash-ordered sample is the cheap stand-in).

    Scale shape: centroids are tiny (k x dim doubles) and live on the
    driver between iterations; each iteration is ONE corpus map pass — a
    numpy GEMM per Arrow batch assigns vectors to their nearest centroid
    and emits per-batch partial sums (k x dim + counts), so the shuffle
    reduces #batches x k rows, never the corpus. Empty cells keep their
    previous centroid (standard Lloyd's degeneracy handling). Deterministic
    for a fixed corpus: init is the xxhash64-ordered sample, ties break to
    the lowest cell, per-vector contributions are exact (each vector sums
    into exactly one batch partial in row order), and the driver combines
    partials with math.fsum per dimension — exactly rounded, so the
    nondeterministic arrival order of batch partials cannot perturb the
    result.
    """
    import math as _math

    # the iteration loop re-scans the corpus once per pass (init + max_iter
    # map passes): persist the two-column projection so every pass after the
    # first reads deserialized columns, not parquet
    src = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).persist()
    init = (
        src.orderBy(F.xxhash64("id"), "id")
        .limit(k)
        .orderBy("id")
        .toPandas()
    )
    centroids = np.vstack([np.asarray(v, dtype=np.float64) for v in init["vec"]])
    # corpus may hold fewer than k vectors: fit what exists rather than
    # misreporting k centroids (or IndexError-ing in the update loop)
    k = centroids.shape[0]

    part_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("vec_sum", T.ArrayType(T.DoubleType(), False)),
            T.StructField("n", T.LongType()),
        ]
    )
    for _ in range(max_iter):
        cents = centroids  # rebind: the closure must pickle this iteration's value
        cnorm = (cents * cents).sum(axis=1)

        def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if not len(pdf):
                    continue
                x = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
                # nearest by euclidean: argmin ||x-c||^2 = ||c||^2 - 2 x.c
                d = cnorm[None, :] - 2.0 * (x @ cents.T)
                cell = d.argmin(axis=1)  # numpy argmin takes the lowest index on ties
                rows = {"cell": [], "vec_sum": [], "n": []}
                for c in np.unique(cell):
                    mask = cell == c
                    rows["cell"].append(int(c))
                    rows["vec_sum"].append(x[mask].sum(axis=0))
                    rows["n"].append(int(mask.sum()))
                yield pd.DataFrame(rows)

        parts = src.mapInPandas(partials, schema=part_schema).toPandas()
        new = centroids.copy()
        for c in range(k):
            sub = parts[parts.cell == c]
            n = int(sub.n.sum())
            if n:
                vs = np.vstack(list(sub.vec_sum))
                new[c] = [
                    _math.fsum(vs[:, j]) / n for j in range(vs.shape[1])
                ]
        if np.allclose(new, centroids, rtol=0, atol=1e-12):
            centroids = new
            break
        centroids = new

    src.unpersist()
    return pd.DataFrame(
        {"centroid_id": range(k), "centroid_vec": list(centroids)}
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    keep_vec: bool = True,
) -> DataFrame:
    """(id[, vec], cell, probe_rank) — each vector's ``nprobe`` nearest
    centroids by cosine, one numpy GEMM per Arrow batch (the
    crossJoin+expression+row_number form paid |vectors|·ncells expression
    cosines AND a per-id window; this is the same data in one map pass
    with no join and no shuffle).

    Determinism: similarities are quantized to integer micro-units before
    ranking (the module's scoring contract — absorbs BLAS last-ulp
    variation) and ties break to the lowest centroid id via a stable sort
    over centroids pre-sorted by id. Centroids collect to the driver (they
    are k×dim small by construction) and broadcast in the closure.
    """
    cents = (
        centroids.select(centroid_id_col, centroid_vec_col)
        .orderBy(centroid_id_col)
        .toPandas()
    )
    cell_ids = cents[centroid_id_col].to_numpy()
    cmat = np.vstack(
        [np.asarray(v, dtype=np.float64) for v in cents[centroid_vec_col]]
    )
    cnorm = np.linalg.norm(cmat, axis=1)
    cunit = cmat / np.where(cnorm > 0, cnorm, 1.0)[:, None]
    np_ = min(nprobe, len(cell_ids))

    fields = [T.StructField("id", vectors.schema[id_col].dataType)]
    if keep_vec:
        fields.append(T.StructField("vec", vectors.schema[vec_col].dataType))
    fields += [
        T.StructField("cell", centroids.schema[centroid_id_col].dataType),
        T.StructField("probe_rank", T.IntegerType()),
    ]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            x = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            xnorm = np.linalg.norm(x, axis=1)
            xunit = x / np.where(xnorm > 0, xnorm, 1.0)[:, None]
            micro = np.rint(1e6 * (xunit @ cunit.T)).astype(np.int64)
            # stable argsort on -micro: ties keep centroid order = lowest id
            idx = np.argsort(-micro, axis=1, kind="stable")[:, :np_]
            out = {
                "id": np.repeat(pdf[id_col].to_numpy(), np_),
                "cell": cell_ids[idx].reshape(-1),
                "probe_rank": np.tile(
                    np.arange(1, np_ + 1, dtype=np.int32), len(pdf)
                ),
            }
            if keep_vec:
                out["vec"] = [
                    v for v in pdf[vec_col] for _ in range(np_)
                ]
            yield pd.DataFrame(out)

    return vectors.select(id_col, vec_col).mapInPandas(
        batches, schema=T.StructType(fields)
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    scale: int | None = 1_000_000,
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (IVF cell).

    ``centroids`` is small (k-means output; driver-collected into the
    GEMM closure). One ``assign_cells`` map pass — no join, no window, no
    shuffle; the crossJoin+expression form this replaces paid
    |corpus|·ncells expression cosines plus a per-id row_number window.
    Persist/bucket the result by cell for repeated query workloads.
    """
    del scale  # ranking is always integer-micro quantized in assign_cells
    return assign_cells(
        corpus,
        centroids,
        id_col,
        vec_col,
        nprobe=1,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
        keep_vec=True,
    ).select(
        F.col("id").alias(id_col), F.col("vec").alias(vec_col), "cell"
    )


def ivf_topk(
    indexed_corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str | None = None,
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    scale: int | None = 1_000_000,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest cells per query, then
    exact cosine within the probed cells only."""
    integer = scale is not None
    cc = prep_vectors(centroids, centroid_id_col, centroid_vec_col, scale).select(
        F.col("id").alias("cell"), F.col("__v").alias("__cv"), F.col("__n").alias("__cn")
    )
    q = prep_vectors(queries, query_id_col or id_col, vec_col, scale).select(
        F.col("id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    probes = q.join(F.broadcast(cc)).select(
        "query_id",
        "__qv",
        "__qn",
        "cell",
        pair_cosine(
            F.col("__qv"), F.col("__qn"), F.col("__cv"), F.col("__cn"), integer=integer
        ).alias("__sim"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("cell"))
    probed = (
        probes.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__qv", "__qn", "cell")
    )
    cv = prep_vectors(indexed_corpus, id_col, vec_col, scale, keep=("cell",))
    cand = cv.join(F.broadcast(probed), "cell").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        pair_cosine(
            F.col("__qv"), F.col("__qn"), F.col("__v"), F.col("__n"), integer=integer
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ann_join_ivf(
    indexed_corpus: DataFrame,
    centroids: DataFrame,
    other: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 2,
    other_id_col: str | None = None,
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    scale: int | None = 1_000_000,
) -> DataFrame:
    """Corpus↔corpus ANN JOIN: for every ``other`` vector, its top-k
    nearest ``indexed_corpus`` vectors — the all-pairs retrieval shape
    where BOTH sides are too large to broadcast (cross-dataset near-dup
    linking, embedding-space train/eval contamination sweeps).

    Only the centroids (k × dim) broadcast. Each ``other`` vector probes
    its ``nprobe`` nearest cells, then a SHUFFLE equi-join on the cell id
    co-locates it with just those cells' corpus vectors: candidate volume
    is |other| · nprobe · avg-cell-size, never |A|×|B|, and the shuffle
    carries one cell id per probe, with cosine scoring running co-located
    after the exchange. Top-k per ``other`` row via window, deterministic
    ties by neighbor id. Self-matches (same id) are kept — filter after if
    the two sides share an id space.
    """
    integer = scale is not None
    # probe selection is one GEMM map pass (assign_cells) — the previous
    # crossJoin+expression+window form paid |other|·ncells expression
    # cosines and a per-query window shuffle for the same nprobe cells
    assigned = assign_cells(
        other,
        centroids,
        other_id_col or id_col,
        vec_col,
        nprobe=nprobe,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
        keep_vec=True,
    )
    probed = prep_vectors(assigned, "id", "vec", scale, keep=("cell",)).select(
        F.col("id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
        "cell",
    )
    cv = prep_vectors(indexed_corpus, id_col, vec_col, scale, keep=("cell",))
    cand = cv.join(probed, "cell").select(  # shuffle join on cell — no broadcast
        "query_id",
        F.col("id").alias("neighbor_id"),
        pair_cosine(
            F.col("__qv"), F.col("__qn"), F.col("__v"), F.col("__n"), integer=integer
        ).alias("cosine_sim"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    nbits: int = 4,
    max_iter: int = 8,
    sample: int = 4096,
) -> np.ndarray:
    """Train product-quantization codebooks: L2-normalize, split into
    ``m`` subspaces, Lloyd's per subspace. Returns ``(m, 2**nbits, dim/m)``
    float64 codebooks (a few KB — they ride into encode/search closures).

    Training is deliberately DRIVER-side on a deterministic hash-ordered
    sample (≤ ``sample`` vectors): codebooks are tiny and k-means on a
    bounded sample is how production PQ indexes train (FAISS does exactly
    this); burning a distributed job per subspace would be 3·m Spark jobs
    to fit a few KB. The ENCODE and SEARCH passes — the parts proportional
    to corpus size — stay fully distributed.

    PQ is the memory-bound ANN regime: a 100 TB float corpus becomes
    ``m`` codes per vector, so the scan side of search reads bytes, not
    vectors."""
    ksub = 1 << nbits
    spdf = (
        corpus.select(
            F.col(id_col).alias("id"), _l2_normalize(F.col(vec_col)).alias("nv")
        )
        .orderBy(F.xxhash64("id"), "id")
        .limit(sample)
        .toPandas()
    )
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in spdf["nv"]])
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = []
    for j in range(m):
        xs = X[:, j * dsub : (j + 1) * dsub]
        # deterministic init: first ksub distinct-ish rows in sample order
        arr = xs[: min(ksub, xs.shape[0])].copy()
        if arr.shape[0] < ksub:
            arr = np.vstack([arr] + [arr[:1]] * (ksub - arr.shape[0]))
        for _ in range(max_iter):
            d = (arr * arr).sum(1)[None, :] - 2.0 * (xs @ arr.T)
            cell = d.argmin(axis=1)
            new = arr.copy()
            for c in range(ksub):
                mask = cell == c
                if mask.sum():
                    new[c] = xs[mask].mean(0)
            if np.allclose(new, arr, rtol=0, atol=1e-12):
                arr = new
                break
            arr = new
        books.append(arr)
    return np.stack(books)


def _l2_normalize(vec: Column) -> Column:
    sq = F.aggregate(
        vec, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double")
    )
    nrm = F.sqrt(sq)
    return F.when(nrm > 0, F.transform(vec, lambda x: x.cast("double") / nrm)).otherwise(
        F.transform(vec, lambda x: x.cast("double"))
    )


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, codebooks: np.ndarray
) -> DataFrame:
    """Encode each (normalized) vector as ``m`` small codes — nearest
    codebook entry per subspace, vectorized numpy per Arrow batch. Output
    ``(id, codes array<int>)`` is what a 100 TB search scan reads."""
    m, ksub, dsub = codebooks.shape
    cb = codebooks
    cbn = (cb * cb).sum(axis=2)  # (m, ksub)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            x = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            nrm = np.sqrt((x * x).sum(axis=1, keepdims=True))
            nrm[nrm == 0] = 1.0
            x = x / nrm
            codes = np.empty((x.shape[0], m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                d = cbn[j][None, :] - 2.0 * (xs @ cb[j].T)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    src = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return src.mapInPandas(run, schema="id long, codes array<int>")


def pq_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    rerank: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """PQ search with ADC + exact rerank: per query build the m×ksub
    lookup table of subspace distances (driver-side, tiny), scan the CODES
    (asymmetric distance = sum of m table lookups per row — no vector math
    on the scan side), keep the best ``rerank·k`` candidates per query,
    then join those ids back to the real vectors for an exact
    integer-quantized cosine rerank to ``k``. The scan touches m bytes per
    corpus row; the rerank touches only rerank·k·|queries| real vectors.
    Deterministic ties by neighbor id."""
    m, ksub, dsub = codebooks.shape
    cb = codebooks
    qpdf = queries.select(
        F.col(id_col).alias("query_id"), _l2_normalize(F.col(vec_col)).alias("qv")
    ).toPandas()
    qids = qpdf["query_id"].to_numpy()
    qmat = np.vstack([np.asarray(v, dtype=np.float64) for v in qpdf["qv"]])
    # LUTs: (nq, m, ksub) squared subspace distances
    luts = np.empty((len(qids), m, ksub))
    for j in range(m):
        qs = qmat[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = (
            (cb[j] * cb[j]).sum(axis=1)[None, :] - 2.0 * (qs @ cb[j].T)
        )
    keep = rerank * k

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.vstack(list(pdf["codes"]))  # (n, m)
            n = codes.shape[0]
            ids = pdf["id"].to_numpy()
            out = {"query_id": [], "neighbor_id": [], "adc_dist": []}
            for qi, qid in enumerate(qids):
                d = luts[qi][np.arange(m)[None, :], codes].sum(axis=1)
                top = np.argsort(d, kind="stable")[: min(keep, n)]
                out["query_id"].extend([qid] * len(top))
                out["neighbor_id"].extend(ids[top])
                out["adc_dist"].extend(d[top])
            yield pd.DataFrame(out)

    cand = codes_df.mapInPandas(
        scan, schema="query_id long, neighbor_id long, adc_dist double"
    )
    # partial top-keep per partition above; global top-keep per query here
    wq = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    short = (
        cand.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= keep)
        .drop("__rn", "adc_dist")
    )
    return _exact_rerank(short, corpus, queries, id_col, vec_col, k, scale)


def _exact_rerank(
    short: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    scale: int,
) -> DataFrame:
    """Shared ADC tail: join the short-listed (query_id, neighbor_id)
    pairs back to the real vectors and keep the exact integer-quantized
    cosine top-k per query. Touches only shortlist-many vectors."""
    cv = prep_vectors(corpus, id_col, vec_col, scale).select(
        F.col("id").alias("neighbor_id"), F.col("__v"), F.col("__n")
    )
    qv = prep_vectors(queries, id_col, vec_col, scale).select(
        F.col("id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    rer = (
        short.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            pair_cosine(
                F.col("__qv"), F.col("__qn"), F.col("__v"), F.col("__n"), integer=True
            ).alias("cosine_sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def build_ivfpq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    id_col: str,
    vec_col: str,
    scale: int | None = 1_000_000,
) -> DataFrame:
    """The FAISS-IVFPQ layout: every vector carries its IVF cell AND its
    PQ codes — ``(id, cell, codes)``. Search probes cells first, then
    ADC-scans only the probed cells' codes; at 100 TB, persist/bucket this
    frame BY CELL so a probe reads only its cells' files."""
    cells = build_ivf_index(corpus, centroids, id_col, vec_col, scale=scale).select(
        F.col(id_col).alias("id"), "cell"
    )
    codes = pq_encode(corpus, id_col, vec_col, codebooks)
    return cells.join(codes, "id")


def ivfpq_topk(
    indexed_codes: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 4,
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF + PQ composed, the production large-scale ANN shape: each query
    probes its ``nprobe`` nearest cells (centroids broadcast), the
    candidate set is just those cells' PQ CODES (m bytes per row — the
    scan never touches vectors), ADC lookup tables score them per Arrow
    batch, and the ``rerank·k`` shortlist gets the exact
    integer-quantized-cosine rerank. Candidate volume: nprobe·cell-size
    per query; scan bytes: codes only."""
    m, ksub, dsub = codebooks.shape
    cc = prep_vectors(centroids, centroid_id_col, centroid_vec_col, scale).select(
        F.col("id").alias("cell"), F.col("__v").alias("__cv"), F.col("__n").alias("__cn")
    )
    q = prep_vectors(queries, id_col, vec_col, scale).select(
        F.col("id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    probes = q.join(F.broadcast(cc)).select(
        "query_id",
        "cell",
        pair_cosine(
            F.col("__qv"), F.col("__qn"), F.col("__cv"), F.col("__cn"), integer=True
        ).alias("__sim"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("cell"))
    probed = (
        probes.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "cell")
    )
    cand = indexed_codes.join(F.broadcast(probed), "cell").select(
        "query_id", "id", "codes"
    )

    # per-query ADC LUTs, built driver-side from the (small) query set
    qpdf = queries.select(
        F.col(id_col).alias("query_id"), _l2_normalize(F.col(vec_col)).alias("qv")
    ).toPandas()
    qids = qpdf["query_id"].to_numpy()
    qmat = np.vstack([np.asarray(v, dtype=np.float64) for v in qpdf["qv"]])
    luts = np.empty((len(qids), m, ksub))
    cb = codebooks
    for j in range(m):
        qs = qmat[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = (cb[j] * cb[j]).sum(axis=1)[None, :] - 2.0 * (qs @ cb[j].T)
    lut_of = {int(qid): luts[i] for i, qid in enumerate(qids)}
    keep = rerank * k

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.vstack(list(pdf["codes"]))
            out = {"query_id": [], "neighbor_id": [], "adc_dist": []}
            for qid, grp in pdf.groupby("query_id"):
                lut = lut_of[int(qid)]
                gc = np.vstack(list(grp["codes"]))
                d = lut[np.arange(m)[None, :], gc].sum(axis=1)
                top = np.argsort(d, kind="stable")[: min(keep, len(d))]
                gids = grp["id"].to_numpy()
                out["query_id"].extend([qid] * len(top))
                out["neighbor_id"].extend(gids[top])
                out["adc_dist"].extend(d[top])
            yield pd.DataFrame(out)

    scored = cand.mapInPandas(
        score, schema="query_id long, neighbor_id long, adc_dist double"
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    short = (
        scored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= keep)
        .drop("__rn", "adc_dist")
    )
    return _exact_rerank(short, corpus, queries, id_col, vec_col, k, scale)


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 10,
    subvectors: int = 4,
    scale: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Late-interaction (ColBERT-style) MaxSim top-k: each vector is
    treated as ``subvectors`` token sub-embeddings; the pair score is
    sum over query sub-vectors of the max dot product against any
    document sub-vector. Multi-vector retrieval rewards documents that
    match EVERY facet of the query somewhere, not just on average — the
    retrieval mode single-vector cosine (brute_force_topk) can't express.

    Scoring is integer-quantized (scale-multiplied, rounded), so the
    sum-of-max-of-dots is exact bigint arithmetic any engine reproduces
    bit-for-bit. Shape mirrors brute_force_topk: queries broadcast, one
    corpus scan, per-query top-k window; the nested max/dot runs as
    higher-order array expressions (interpreted, not codegen — at real
    scale swap the inner loop for the GEMM kernel of ann_join_ivf with
    one row per sub-vector).

    Ties broken by neighbor id. Output: (query_id, neighbor_id, score,
    rank), score in integer micro^2 units.
    """
    if dim is None:  # one tiny driver probe; pass dim to skip it
        dim = len(corpus.select(vec_col).first()[0])
    if dim % subvectors:
        raise ValueError(f"dim {dim} not divisible by {subvectors} subvectors")
    sublen = dim // subvectors

    def quant_subs(col: Column) -> Column:
        qv = F.transform(
            col, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
        )
        return F.transform(
            F.sequence(F.lit(0), F.lit(subvectors - 1)),
            lambda s: F.slice(qv, s * sublen + 1, sublen),
        )

    q = queries.select(
        F.col(id_col).alias("query_id"), quant_subs(F.col(vec_col)).alias("__qs")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quant_subs(F.col(vec_col)).alias("__cs")
    )

    def dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    score = F.aggregate(
        F.col("__qs"),
        F.lit(0).cast("long"),
        lambda acc, qsub: acc
        + F.array_max(F.transform(F.col("__cs"), lambda dsub: dot(qsub, dsub))),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id", "neighbor_id", score.alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sq8_quantize(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Scalar int8 quantization (symmetric absmax — the SQ8 codec every
    vector store ships alongside PQ): per vector, scale = absmax/127 and
    code_i = round(x_i * 127 / absmax) in [-127, 127]. Completes the ANN
    compression ladder (brute -> IVF -> SQ8 -> PQ -> IVFPQ): SQ8 is 4x
    smaller than float32 at ~1% recall loss and, unlike PQ, needs no
    trained codebook — the right first codec for a fresh 100 TB corpus.

    Shape: absmax and codes are in-row higher-order functions over the
    embedding array — a stateless scan stage, no shuffle, no UDF; the
    posexplode exists only to give the oracle a flat comparable surface
    (a production sink would keep ``array<tinyint>`` rows).

    Determinism: round() is SQL half-away-from-zero in both Spark and
    DuckDB, and x*127/absmax is the same two IEEE double ops both sides,
    so codes agree bit-for-bit; the all-zero vector quantizes to zeros.

    Output: (id, dim, code, absmax) — one row per dimension.
    """
    v = F.transform(F.col("__v"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    codes = F.when(
        amax == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            v, lambda x: F.round(x * 127.0 / amax, 0).cast("int")
        )
    )
    return (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .select("__id", F.posexplode(codes).alias("dim", "code"), amax.alias("absmax"))
        .select(
            F.col("__id").alias(id_col),
            F.col("dim").cast("int").alias("dim"),
            "code",
            "absmax",
        )
    )


def sq8_code_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Array form of ``sq8_quantize``: (id, codes array<int>, absmax) —
    what a production vector sink stores, and the input for scoring
    directly in the quantized domain (code dot products are exact
    integers; cosine is invariant to the per-vector absmax scale, so
    ranking on code cosine IS ranking on reconstructed cosine)."""
    v = F.transform(F.col("__v"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    codes = F.when(
        amax == 0.0, F.transform(v, lambda x: F.lit(0).cast("int"))
    ).otherwise(
        F.transform(v, lambda x: F.round(x * 127.0 / amax, 0).cast("int"))
    )
    return df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).select(
        F.col("__id").alias(id_col),
        codes.alias("codes"),
        amax.alias("absmax"),
    )


def retrieval_metrics(
    truth: DataFrame,
    cand: DataFrame,
    *,
    k: int,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Retrieval-quality metrics of a candidate ranking against an exact
    ground-truth ranking — the eval loop every ANN/quantization tradeoff
    is judged by (recall@k, reciprocal rank of the true best hit). Both
    inputs are (query, item, rank) top-k tables; metrics are exact
    integers so an oracle can restate them:

    - ``n_overlap``: |truth-top-k ∩ cand-top-k| (recall@k numerator);
    - ``rr_micro``: floor(1e6 / rank-in-cand of the TRUE top-1 item),
      0 when the candidate list misses it entirely (MRR numerator).

    Shape: two equi-joins on (query, item) + one per-query aggregate —
    the metric cost is |top-k tables|, never the corpus.
    """
    t = truth.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).alias("__tr"),
    )
    c = cand.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).alias("__cr"),
    )
    joined = t.join(c, ["__q", "__i"], "left")
    return joined.groupBy("__q").agg(
        F.sum(F.col("__cr").isNotNull().cast("long"))
        .cast("bigint")
        .alias("n_overlap"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("__tr") == 1,
                    F.floor(F.lit(1_000_000) / F.col("__cr")).cast("bigint"),
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("rr_micro"),
    ).select(F.col("__q").alias(query_col), "n_overlap", "rr_micro")


def int_covariance_sums(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    scale: int = 1_000,
) -> DataFrame:
    """Exact integer second-moment (Gram) sums over an embedding column —
    the distributed input to PCA / whitening / covariance estimation:
    each vector is quantized to ``scale``-units once, then every (i, j)
    dimension pair accumulates sum(q_i * q_j) and n as exact bigints.
    Floating covariance sums are partition-order-dependent (doubles
    don't associate); the quantized form makes the 64x64 matrix
    bit-identical on any cluster AND oracle-comparable, and the
    eigendecomposition that follows is a driver-side O(d^3) step on a
    d*d matrix, not a data-scale op.

    Shape: one quantization projection, a dimension-pair explode
    (d^2 rows per vector — bounded by the embedding dim, not the data),
    and one map-side-combined groupBy on (i, j). At 100 TB the shuffle
    carries at most d^2 partial rows per partition.

    Output: (i, j, n, sum_q2) for all d^2 ordered pairs.
    """
    q = F.transform(
        F.col("__v"),
        lambda x: F.round(x.cast("double") * scale, 0).cast("bigint"),
    )
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    qd = base.select("__id", q.alias("__q"))
    ei = qd.select("__id", "__q", F.posexplode("__q").alias("i", "qi"))
    eij = ei.select(
        "i", "qi", F.posexplode("__q").alias("j", "qj")
    )
    return (
        eij.groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("qi") * F.col("qj")).cast("bigint").alias("sum_q2"),
        )
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "n",
            "sum_q2",
        )
    )


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 2,
    scale: int = 1_000,
    out_scale: int = 1_000_000,
) -> DataFrame:
    """PCA projection of an embedding column onto its top-``k`` principal
    components — the whitening/compression step ahead of clustering, ANN
    indexing (IVF cells on decorrelated axes), and embedding-drift
    monitoring. Completes the embedding-preprocessing family
    (emb_dimension_stats → int_covariance_sums → SQ8 → PCA).

    Two-phase, the distributed-PCA textbook split:

    1. MOMENTS (distributed, exact): vectors quantize to ``scale`` units
       once; per-dimension first moments (d rows) and the d×d Gram second
       moments accumulate as exact bigints through map-side-combined
       aggregates — the int_covariance_sums discipline, so the covariance
       matrix is bit-identical on any partitioning.
    2. EIGH (driver, O(d³) on a d×d matrix — microseconds for d=64,
       independent of data size): covariance from the exact sums, numpy
       ``eigh``, top-k eigenvectors, sign-fixed so each component's
       largest-|loading| dimension is positive (eigenvector sign is
       otherwise arbitrary and would flip run to run).

    The projection itself is one stateless map: mean-center each
    quantized vector against the literal mean array and dot it with the
    literal eigenvector arrays (``zip_with`` + ``aggregate``, JVM-side,
    no UDF). Driver traffic is d + d² rows total — dimension-bounded,
    never data-bounded. Rows-only surface: eigenvectors are continuous
    functions of the data so no SQL oracle exists; parity/property twins
    live in tests/test_no_oracle_parity.py.

    Output: (id, n_dims, pc1_micro, ..., pck_micro) with scores
    micro-rounded onto ``out_scale`` units of the ORIGINAL embedding
    scale.
    """
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    q = F.transform(
        F.col("__v"),
        lambda x: F.round(x.cast("double") * scale, 0).cast("bigint"),
    )
    qd = base.select("__id", q.alias("__q")).localCheckpoint()

    ei = qd.select(F.posexplode("__q").alias("i", "qi"))
    first = (
        ei.groupBy("i")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qi").alias("s"))
        .collect()  # d rows — dimension-bounded
    )
    d = max(r["i"] for r in first) + 1
    n = int(first[0]["n"])
    s1 = np.zeros(d, dtype=np.float64)
    for r in first:
        s1[r["i"]] = float(r["s"])
    eij = qd.select(F.posexplode("__q").alias("i", "qi"), "__q").select(
        "i", "qi", F.posexplode("__q").alias("j", "qj")
    )
    gram = (
        eij.groupBy("i", "j")
        .agg(F.sum(F.col("qi") * F.col("qj")).alias("s2"))
        .collect()  # d^2 rows — dimension-bounded
    )
    s2 = np.zeros((d, d), dtype=np.float64)
    for r in gram:
        s2[r["i"], r["j"]] = float(r["s2"])

    mu = s1 / n
    cov = s2 / n - np.outer(mu, mu)
    _vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    comps = []
    for c in range(1, k + 1):
        v = vecs[:, -c].copy()
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v)

    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    centered = F.zip_with(
        F.col("__q"), mu_lit, lambda x, m: x.cast("double") - m
    )
    out_cols = [F.col("__id").alias(id_col), F.lit(d).cast("int").alias("n_dims")]
    for c, v in enumerate(comps, start=1):
        v_lit = F.array(*[F.lit(float(w)) for w in v])
        dot = F.aggregate(
            F.zip_with(centered, v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out_cols.append(
            F.round(dot / scale * out_scale, 0)
            .cast("bigint")
            .alias(f"pc{c}_micro")
        )
    return qd.select(*out_cols)


def hard_example_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    *,
    scale: int | None = 1_000_000,
) -> DataFrame:
    """Triplet mining for contrastive training data: for each anchor,
    the hardest POSITIVE (same label, most-similar, never itself) and
    hardest NEGATIVE (different label, most-similar) plus the margin
    between them — the batch-construction primitive behind triplet /
    InfoNCE pipelines (anchors with a small or negative margin are the
    informative ones).

    Scale shape: identical to brute_force_topk — the anchor side is the
    small one (a sampled probe set), broadcast below a single corpus
    scan; quantize/norm work is hoisted per-row (prep_vectors), the only
    per-pair work is the dot product, and the double top-1 reduction is
    ONE window over (anchor, is_positive) on the scored stream. For
    anchor sets too big to broadcast, swap the scorer for ann_join_ivf
    and keep the same tail.

    Determinism: integer-quantized cosine (exact dot/norms), ties broken
    by candidate id; margin is a double difference of bit-identical
    doubles.
    """
    q = prep_vectors(anchors, id_col, vec_col, scale, keep=(label_col,)).select(
        F.col("id").alias("anchor_id"),
        F.col(label_col).alias("__ql"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    c = prep_vectors(corpus, id_col, vec_col, scale, keep=(label_col,)).select(
        F.col("id").alias("cand_id"), F.col(label_col).alias("__cl"), "__v", "__n"
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("cand_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "cand_id",
            (F.col("__ql") == F.col("__cl")).alias("is_pos"),
            pair_cosine(
                F.col("__qv"), F.col("__qn"), F.col("__v"), F.col("__n"),
                integer=scale is not None,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("anchor_id", "is_pos").orderBy(
        F.desc("cosine_sim"), F.asc("cand_id")
    )
    best = scored.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
    pos = best.where(F.col("is_pos")).select(
        "anchor_id",
        F.col("cand_id").alias("pos_id"),
        F.col("cosine_sim").alias("pos_sim"),
    )
    neg = best.where(~F.col("is_pos")).select(
        "anchor_id",
        F.col("cand_id").alias("neg_id"),
        F.col("cosine_sim").alias("neg_sim"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        (F.col("pos_sim") - F.col("neg_sim")).alias("margin"),
    )


def binary_quantize_words(
    df: DataFrame, id_col: str, vec_col: str, *, dims: int = 64
) -> DataFrame:
    """1-bit embedding quantization: sign-binarize each component and
    pack the bits into two 32-bit-per-word BIGINT columns (w0 = dims
    0-31, w1 = dims 32-63) — the 64x-compression binary-embedding
    codec whose Hamming distance approximates angular distance
    (Charikar's hyperplane LSH with axis-aligned planes, the packed
    whole-vector form). Bits stay in the low 32 of each word so no
    sign-bit/overflow semantics are involved and any engine's int64
    agrees. A compact higher-order fold (one aggregate/transform pair
    per word), scan-stage at any corpus size; downstream retrieval is
    xor + bit_count on two words instead of a d-dim float dot product.
    The fold replaces 64 unrolled conditional adds whose ~130-node
    tree cost seconds of Catalyst re-optimization per execution plus a
    ~55 s first janino compile of any join stage containing it (same
    bigint sum, same >= 0 sign convention, bit-identical output).
    """
    def word(lo: int) -> Column:
        return F.expr(
            f"aggregate(transform(sequence(0, 31), i -> "
            f"IF(element_at(`{vec_col}`, i + {lo} + 1) >= 0, "
            f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
            f"CAST(0 AS BIGINT), (s, x) -> s + x)"
        )

    assert dims == 64, "fixture embeddings are 64-dim; extend per 32 dims"
    return df.select(
        F.col(id_col), word(0).alias("w0"), word(32).alias("w1")
    )


def binary_topk_recall(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    *,
    k: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Retrieval-quality eval of the 1-bit codec: per query, the
    Hamming-distance top-k over packed sign words vs the exact
    quantized-cosine top-k (the sq8/retrieval_metrics pattern), and
    the overlap between the two lists. All-integer scoring on both
    arms (xor+bit_count Hamming; micro-quantized dot products), ties
    by neighbor id, so the whole eval value-hashes across engines.
    Scale shape: queries broadcast twice over one corpus scan each —
    the binary arm shuffles only (id, w0, w1).

    Output per query: n_overlap (|binary top-k ∩ exact top-k|),
    min_ham / max_ham over the binary top-k.
    """
    codes = binary_quantize_words(df, id_col, vec_col)
    # pack the (small) query side from the filtered input directly —
    # deriving it from `codes` would replay the corpus-wide packing
    # scan a second time just to keep a handful of rows
    qcodes = binary_quantize_words(
        df.filter(query_pred), id_col, vec_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    ham = (
        codes.crossJoin(F.broadcast(qcodes))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr("bit_count(qw0 ^ w0) + bit_count(qw1 ^ w1)")
            .cast("bigint")
            .alias("ham"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.asc("ham"), F.asc("neighbor_id")
    )
    btop = ham.withColumn("rank", F.row_number().over(wq)).filter(
        F.col("rank") <= k
    )
    exact = brute_force_topk(
        df, df.filter(query_pred), id_col, vec_col, k=k, scale=scale
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    # one pass over the binary top-k: left-mark exact-arm membership,
    # then overlap count and Hamming extrema in a single aggregate
    # (a second btop consumer would replay the whole Hamming scan)
    return (
        btop.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_overlap"),
            F.min("ham").alias("min_ham"),
            F.max("ham").alias("max_ham"),
        )
    )
