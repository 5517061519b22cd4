"""Deduplication for LLM training data: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup (BASELINE.json north-star
extension; first-class alongside SURVEY §2).

Everything is built from built-in expressions (xxhash64, array lambdas,
groupBy) — no Python in the hot path, no driver-side state. Scale notes per
operator; the common shape is: per-doc signature (narrow map-side work) →
shuffle ONLY on small keys (band hashes / buckets) → verify candidate pairs.
At 100 TB the candidate-pair step is the cost center, which is why every
near-dup variant blocks (LSH bands / hamming bands / length buckets) before
any pairwise comparison — never an unblocked self-join.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import normalize_text, tokens

_M64 = (1 << 64) - 1


def exact_dedupe(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: md5-of-normalized-text groups, keep lowest id.

    hash-groupBy: one shuffle on a 128-bit key; at scale prefer this over
    groupBy(full text) — the shuffle carries 32 bytes, not documents.
    """
    h = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


# ---------------------------------------------------------------------------
# vectorized signature computation (mapInPandas + numpy)
#
# Signatures are embarrassingly-parallel per-row map work; round 1 computed
# them as 64-wide Catalyst expression trees (one zip_with x transform per
# shingle) and the two signature queries dominated the bench (33.8 s + 32.7 s
# at sf0.1). An Arrow-batched numpy kernel does the same work in one pass —
# the banding/join topology (the part that matters at 100 TB) is unchanged.
# ---------------------------------------------------------------------------


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mixer (public splitmix64 constants) — derives the
    per-permutation affine coefficients without any RNG state."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return (x ^ (x >> 31)) & _M64


def _py_normalize(text: str | None) -> str:
    """Python twin of functions.text.normalize_text (lowercase, strip
    punctuation, collapse whitespace) — keeps pandas-side shingles identical
    to the expression-side ones used by the Jaccard verifier."""
    t = re.sub(r"[^a-z0-9\s]", "", (text or "").lower())
    return re.sub(r"\s+", " ", t).strip()


def _py_shingles(text: str | None, n: int) -> list[str]:
    toks = _py_normalize(text).split(" ")
    if len(toks) < n:
        return [" ".join(toks)]
    return list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})


def _hash_str_block(strs: list[str]) -> np.ndarray:
    """Vectorized deterministic 64-bit hash of a flat string list — one
    C-level siphash pass (pandas ``hash_array`` with its fixed library key)
    instead of a Python hash call per string. Hashing a whole mapInPandas
    batch flattened is the difference between ~0.7 ms/doc and ~0.02 ms/doc."""
    if not strs:
        return np.empty(0, dtype=np.uint64)
    return pd.util.hash_array(np.asarray(strs, dtype=object), categorize=False)


def _batch_shingle_hashes(
    texts: pd.Series, n: int
) -> tuple[list[np.ndarray], list[int]]:
    """Per-row distinct n-gram shingle hash arrays for one pandas batch:
    flatten every row's shingles, hash once, split back by offsets."""
    flat: list[str] = []
    counts: list[int] = []
    for text in texts:
        row = _py_shingles(text, n)
        counts.append(len(row))
        flat.extend(row)
    h = _hash_str_block(flat).astype(np.int64)
    return np.split(h, np.cumsum(counts)[:-1]), counts


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    n: int = 3,
) -> DataFrame:
    """(id, __sig array<bigint>) MinHash signatures.

    h_i(shingle) = a_i * base(shingle) + b_i  (mod 2^64), min-folded per i —
    each shingle base-hashed once in a vectorized batch pass, then a
    (k x n_shingles) numpy broadcast min. Deterministic across runs/
    executors (coefficients from splitmix64(i), batch-invariant base hash).
    """
    a = np.array(
        [_splitmix64(2 * i + 1) | 1 for i in range(num_hashes)], dtype=np.uint64
    )
    b = np.array([_splitmix64(2 * i + 2) for i in range(num_hashes)], dtype=np.uint64)
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("__sig", T.ArrayType(T.LongType())),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows, _ = _batch_shingle_hashes(pdf[text_col], n)
            sigs = []
            for h in rows:
                # uint64 arithmetic wraps mod 2^64 by design
                sig = (a[:, None] * h.view(np.uint64)[None, :] + b[:, None]).min(
                    axis=1
                )
                sigs.append(sig.astype(np.int64))
            yield pd.DataFrame({"id": pdf[id_col], "__sig": sigs})

    return df.select(id_col, text_col).mapInPandas(batches, schema=out_schema)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh bigint) 64-bit SimHash: per-token base hash → per-bit ±1
    votes → majority sign per bit, packed. One numpy matrix per document."""
    bit_idx = np.arange(64, dtype=np.uint64)
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("sh", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            flat: list[str] = []
            counts: list[int] = []
            for text in pdf[text_col]:
                toks = _py_normalize(text).split(" ")
                counts.append(len(toks))
                flat.extend(toks)
            hs = _hash_str_block(flat)
            out = []
            for h in np.split(hs, np.cumsum(counts)[:-1]):
                bits = (h[:, None] >> bit_idx[None, :]) & np.uint64(1)
                votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                packed = int(
                    ((votes > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64)
                )
                # two's-complement view for LongType
                out.append(packed - (1 << 64) if packed >= (1 << 63) else packed)
            yield pd.DataFrame({"id": pdf[id_col], "sh": out})

    return df.select(id_col, text_col).mapInPandas(batches, schema=out_schema)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH: shingle → minhash →
    split signature into ``bands`` bands → hash each band → docs sharing a
    band hash become candidates.

    Shuffles only (band_id, band_hash, id) — signature bytes, not text.
    Returns distinct (id_a, id_b) with id_a < id_b; verify with
    ``ngram_jaccard_on_pairs`` (LSH gives no false-negative guarantees
    beyond the band/row S-curve; verification is the contract).
    """
    rows = num_hashes // bands
    # signatures via the vectorized mapInPandas kernel; banding stays a
    # Catalyst projection — xxhash64 hashes each band's sub-array directly,
    # no string serialization.
    banded = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.slice("__sig", b * rows + 1, rows)).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bhash"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    keep: tuple[str, ...] = (),
    hashed: bool = True,
) -> DataFrame:
    """(id, *keep, sh array, nsh int) distinct word-n-gram shingle sets via
    the vectorized pandas kernel (one flattened hash pass per Arrow batch —
    measured ~3x faster than the equivalent higher-order-function expression
    chain, whose per-element lambda evaluation is interpreted).

    ``hashed=True`` (default) emits 64-bit shingle hashes — set
    intersections on bigints are several times cheaper than on strings in
    the pairwise-verify join, and at ~100 shingles/doc a within-pair
    collision is a ~1e-16 event, so Jaccard counts are exact in practice.
    ``hashed=False`` emits the raw shingle strings.
    """
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            *[T.StructField(c, df.schema[c].dataType) for c in keep],
            T.StructField(
                "sh", T.ArrayType(T.LongType() if hashed else T.StringType())
            ),
            T.StructField("nsh", T.IntegerType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if hashed:
                sh, counts = _batch_shingle_hashes(pdf[text_col], n)
            else:
                sh = [_py_shingles(t, n) for t in pdf[text_col]]
                counts = [len(s) for s in sh]
            out = {"id": pdf[id_col]}
            for c in keep:
                out[c] = pdf[c]
            out["sh"] = sh
            out["nsh"] = counts
            yield pd.DataFrame(out)

    return df.select(id_col, text_col, *keep).mapInPandas(batches, schema=out_schema)


def ngram_jaccard_on_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard."""
    sh = shingle_sets(docs, id_col, text_col, n).drop("nsh")
    return (
        pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .drop("sh_a", "sh_b")
    )


_NGRAM_CACHE: list[DataFrame] = []


def release_ngram_cache() -> None:
    """Unpersist shingle subtrees cached by earlier ``ngram_jaccard_pairs``
    calls. Called automatically at each new call (so a long-lived session
    holds at most ONE cached subtree — the newest); call explicitly when the
    result has been fully consumed."""
    while _NGRAM_CACHE:
        try:
            _NGRAM_CACHE.pop().unpersist(False)
        except Exception:
            pass  # session already stopped


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    length_bucket: int = 32,
    block_col: str | None = None,
    allow_small_blocks: bool = False,
    max_block_rows: int = 5000,
) -> DataFrame:
    """Blocked exact n-gram Jaccard similarity join.

    Blocking: ``block_col`` if given (a source/cluster/partition key);
    otherwise shingle-count buckets: Jaccard ≥ t forces
    ``t·max(na,nb) ≤ min(na,nb)``, so each doc emits every bucket id in
    ``[⌊t·nsh/w⌋, ⌊nsh/w⌋]`` — the smaller doc's own bucket always falls in
    the larger doc's emitted range, making bucket recall exactly 1.0 (pinned
    by a test against unblocked Jaccard). Cost per doc is
    O(nsh·(1-t)/w) bucket rows; O(pairs-within-bucket) comparisons, never
    O(n²) corpus-wide.

    The ``block_col`` path is all-pairs WITHIN a block — O(n²/k) with
    parallelism bounded by block cardinality, a scale-killer when the key is
    coarse. Unless ``allow_small_blocks`` is set, a cheap one-pass estimate
    (approx_count_distinct) refuses blocks averaging more than
    ``max_block_rows`` rows and points at the scale-safe routes: the default
    length-bucket blocking, or ``minhash_lsh_candidates`` →
    ``ngram_jaccard_on_pairs`` (LSH-then-verify).
    """
    release_ngram_cache()
    if block_col:
        if not allow_small_blocks:
            st = df.agg(
                F.approx_count_distinct(block_col).alias("c"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            avg = st["n"] / max(st["c"], 1)
            if avg > max_block_rows:
                raise ValueError(
                    f"ngram_jaccard_pairs: block_col={block_col!r} averages "
                    f"~{avg:.0f} rows/block ({st['n']} rows, ~{st['c']} blocks) "
                    f"> max_block_rows={max_block_rows}; the within-block "
                    "all-pairs join would be quadratic and its parallelism "
                    "bounded by block count. Use the default length-bucket "
                    "blocking (block_col=None), minhash_lsh_candidates + "
                    "ngram_jaccard_on_pairs, or pass allow_small_blocks=True "
                    "if the corpus is genuinely small."
                )
        blocked = shingle_sets(
            df, id_col, text_col, n, keep=(block_col,)
        ).withColumnRenamed(block_col, "bucket")
    else:
        sh = shingle_sets(df, id_col, text_col, n)
        blocked = sh.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col("nsh") * F.lit(threshold) / length_bucket),
                    F.floor(F.col("nsh") / length_bucket),
                )
            ),
        )
    # the plan references this subtree three times (two candidate sides +
    # the verify re-join); persisting runs the Python shingling ONCE instead
    # of three passes over the corpus (MEMORY_AND_DISK: spills, never OOMs)
    blocked = blocked.persist()
    _NGRAM_CACHE.append(blocked)
    # Candidate generation runs on (bucket, id, nsh) METADATA only — the
    # bucket join's parallelism is bounded by the block-key cardinality, so
    # shingle arrays must not ride through it (they'd concentrate the
    # array_intersect work on |blocks| tasks and shuffle every array per
    # bucket). The pair stream is bare id pairs; payloads re-join by id so
    # verification distributes across the full id-hash shuffle.
    meta = blocked.select("bucket", "id", "nsh")
    a = meta.alias("a")
    b = meta.alias("b")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        # necessary size condition for Jaccard >= t: t*max(na,nb) <= min(na,nb)
        # — prunes most pairs before any set intersection
        .filter(
            F.least("a.nsh", "b.nsh")
            >= F.lit(threshold) * F.greatest("a.nsh", "b.nsh")
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.nsh").alias("__na"),
            F.col("b.nsh").alias("__nb"),
        )
    )
    sh = blocked.select("id", "sh")
    if not block_col:
        # multi-bucket emission: dedupe pairs and shingle rows pre-verify
        cand = cand.distinct()
        sh = sh.dropDuplicates(["id"])
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    return (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("__sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("__sh_b")), "id_b")
        # |A∪B| = na + nb − |A∩B| — skips materializing the union array
        .select(
            "id_a",
            "id_b",
            (inter / (F.col("__na") + F.col("__nb") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_ppm: int = 500_000,
    block_col: str | None = None,
    allow_small_blocks: bool = False,
    max_block_rows: int = 5000,
) -> DataFrame:
    """Blocked exact n-gram CONTAINMENT join: |A∩B| / |A| (and /|B|) in
    exact ppm integers — the asymmetric companion to Jaccard that
    catches a short document quoted inside a long one, where resemblance
    stays low (Broder's containment, the metric behind
    benchmark-contamination checks). No size-ratio prune exists for
    containment (a 10-shingle doc can be fully contained in a 10k-
    shingle doc), so blocking must come from a real key; the same
    coarse-block guard as ngram_jaccard_pairs refuses quadratic blocks.
    Same meta/payload split: bare id pairs ride the block join, shingle
    arrays re-join on the id hash so verification distributes.

    Output: (id_a, id_b, inter, na, nb, cont_a_ppm, cont_b_ppm) for
    pairs where either direction reaches ``threshold_ppm``.
    """
    if block_col is None:
        raise ValueError(
            "ngram_containment_pairs requires a block_col: containment has "
            "no size-bucket blocking (no lower bound ties |A| to |B|)"
        )
    if not allow_small_blocks:
        st = df.agg(
            F.approx_count_distinct(block_col).alias("c"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        avg = st["n"] / max(st["c"], 1)
        if avg > max_block_rows:
            raise ValueError(
                f"ngram_containment_pairs: block_col={block_col!r} averages "
                f"~{avg:.0f} rows/block > max_block_rows={max_block_rows}; "
                "pass allow_small_blocks=True only for genuinely small "
                "corpora"
            )
    release_ngram_cache()
    blocked = shingle_sets(df, id_col, text_col, n, keep=(block_col,)).persist()
    _NGRAM_CACHE.append(blocked)
    meta = blocked.select(F.col(block_col).alias("bucket"), "id", "nsh")
    cand = (
        meta.alias("a")
        .join(meta.alias("b"), "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.nsh").cast("bigint").alias("na"),
            F.col("b.nsh").cast("bigint").alias("nb"),
        )
    )
    sh = blocked.select("id", "sh")
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("bigint")
    out = (
        cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("__sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("__sh_b")),
            "id_b",
        )
        .withColumn("inter", inter)
        .select(
            "id_a",
            "id_b",
            "inter",
            "na",
            "nb",
            F.expr("(1000000 * inter) div na").alias("cont_a_ppm"),
            F.expr("(1000000 * inter) div nb").alias("cont_b_ppm"),
        )
    )
    return out.filter(
        F.greatest("cont_a_ppm", "cont_b_ppm") >= F.lit(threshold_ppm)
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup candidates by the band trick: split the 64-bit hash
    into ``bands`` segments — any pair within hamming distance < bands
    shares at least one exact segment. Join per segment, verify with
    ``bit_count(xor) <= max_hamming``.
    """
    width = 64 // bands
    mask = (1 << width) - 1
    sh = simhash_signatures(df, id_col, text_col)
    seg = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sh"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("seg"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("s"),
    ).select("id", "sh", F.col("s.band").alias("band"), F.col("s.seg").alias("seg"))
    a = seg.alias("a")
    b = seg.alias("b")
    return (
        a.join(b, ["band", "seg"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def quantize_vec(col: Column, scale: int = 1_000_000) -> Column:
    """Quantize array<float> to array<bigint> (round half away from zero).

    Integer dot products / norms are then EXACT and order-independent —
    bit-identical across Spark, DuckDB, or any engine — while differing from
    float cosine by < 1e-5. Used by the oracle-checked similarity
    queries."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale, 0).cast("bigint")
    )


def quantized_cosine(a: Column, b: Column, scale: int = 1_000_000) -> Column:
    """Cosine over quantized vectors: exact integer dot/norms, then one
    deterministic double division — cross-engine reproducible."""
    qa, qb = quantize_vec(a, scale), quantize_vec(b, scale)
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda s, x: s + x,
    )
    na = F.aggregate(
        F.transform(qa, lambda x: x * x), F.lit(0).cast("bigint"), lambda s, x: s + x
    )
    nb = F.aggregate(
        F.transform(qb, lambda x: x * x), F.lit(0).cast("bigint"), lambda s, x: s + x
    )
    return dot.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def prep_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    scale: int | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-side projection for pairwise cosine work: ``(id, *keep, __v,
    __n)`` where ``__v`` is the (optionally quantized) vector and ``__n``
    its squared norm.

    Hoisting this BELOW any pairwise join means each vector is cast/quantized
    and normed once per row, not once per candidate pair — at 100 TB the
    pair side dominates by orders of magnitude. ``scale`` set → integer
    quantization (cross-engine-exact, see ``quantize_vec``); None → double.
    """
    if scale:
        v = quantize_vec(F.col(vec_col), scale)
        zero = F.lit(0).cast("bigint")
    else:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        zero = F.lit(0.0)
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep],
        v.alias("__v"),
        F.aggregate(
            F.transform(v, lambda x: x * x), zero, lambda s, x: s + x
        ).alias("__n"),
    )


def pair_cosine(
    va: Column, na: Column, vb: Column, nb: Column, integer: bool = True
) -> Column:
    """Cosine from prepped sides: only the dot product is per-pair work.
    ``integer`` must match the ``scale`` choice made in ``prep_vectors``
    (quantized bigint vectors vs double vectors)."""
    zero = F.lit(0).cast("bigint") if integer else F.lit(0.0)
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), zero, lambda s, x: s + x)
    return dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    scale: int | None = 1_000_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold``.

    ``block_col`` provides the blocking key (a cluster id, label, LSH sign
    bucket …). Without one, falls back to a random-hyperplane sign bucket
    (8 deterministic planes) so the self-join never runs unblocked — at the
    cost of missing cross-bucket pairs near the planes (standard LSH
    recall trade; raise planes/threshold accordingly).
    """
    v = prep_vectors(df, id_col, vec_col, scale, keep=(block_col,) if block_col else ())
    if block_col is not None:
        v = v.withColumnRenamed(block_col, "block")
    else:
        v = v.withColumn("block", _hyperplane_bucket(F.col("__v"), planes=8))
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, "block")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            pair_cosine(
                F.col("a.__v"),
                F.col("a.__n"),
                F.col("b.__v"),
                F.col("b.__n"),
                integer=scale is not None,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _hyperplane_bucket(vec: Column, planes: int = 8, seed: int = 0) -> Column:
    """Deterministic random-hyperplane LSH bucket: plane p's j-th coefficient
    is a fixed pseudo-random ±1 from xxhash64(seed+p, j). Plane indices are
    Python ints; only the dimension index is a lambda column. ``seed``
    derives independent plane sets for multi-table LSH."""
    dim = F.size(vec)
    bucket = F.lit(0).cast("bigint")

    def _signed_term(plane: int):
        # closure factory: PySpark derives lambda arity from the signature,
        # so the plane index must be captured, not a default argument
        return lambda x, j: x.cast("double") * F.when(
            F.xxhash64(F.lit(seed + plane), j) % 2 == 0, 1.0
        ).otherwise(-1.0)

    for p in range(planes):
        dotp = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), dim - 1), _signed_term(p)),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        bucket = bucket + F.when(dotp > 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def semantic_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """The full near-dup dedup pipeline, end to end: banded MinHash-LSH
    candidates → exact shingle-Jaccard verification at ``threshold`` →
    connected components over the verified pairs → per-group size and the
    canonical keep-flag (minimum id survives).

    This is the composition a 100 TB text corpus actually runs: every stage
    blocks before pairwise work (LSH bands), verifies only candidates, and
    turns pairs into groups with the O(log n) contraction loop — no
    all-pairs stage anywhere. Returns one row per document:
    (id, comp, component_size, is_canonical).
    """
    from .components import connected_components, dedup_groups

    cands = minhash_lsh_candidates(
        docs, id_col, text_col, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
    )
    verified = ngram_jaccard_on_pairs(cands, docs, id_col, text_col, n=shingle_n).filter(
        F.col("jaccard") >= threshold
    )
    labels = connected_components(
        verified.select("id_a", "id_b"),
        "id_a",
        "id_b",
        nodes=docs.select(id_col),
    )
    return dedup_groups(labels)


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Train/test contamination check: which corpus documents contain a
    benchmark (eval-set) document? A corpus doc is flagged when the
    CONTAINMENT of a benchmark doc's shingle set in its own —
    |C∩B| / |B| — reaches ``threshold`` (asymmetric on purpose: a long
    training doc that embeds a whole benchmark item is contamination even
    though their symmetric Jaccard is low). ``is_exact`` additionally marks
    verbatim copies by normalized fingerprint.

    Scale shape: the benchmark side is small by nature (eval sets), so its
    inverted shingle index BROADCASTS; the corpus is exploded once and
    probed map-side — no shuffle touches corpus text, and the only exchange
    is the (corpus_id, benchmark_id) count aggregation, whose cardinality
    is bounded by actually-overlapping pairs. Self-pairs (same id) are
    excluded so a benchmark drawn from the corpus doesn't flag itself.

    Returns (corpus_id, benchmark_id, containment, is_exact).
    """
    from ..functions.text import doc_fingerprint

    csh = shingle_sets(corpus, id_col, text_col, n).select(
        F.col("id").alias("corpus_id"), F.explode("sh").alias("s")
    )
    bsh = shingle_sets(benchmark, id_col, text_col, n).select(
        F.col("id").alias("benchmark_id"), F.col("nsh").alias("nsh_b"),
        F.explode("sh").alias("s"),
    )
    inter = (
        csh.join(F.broadcast(bsh), "s")
        .filter(F.col("corpus_id") != F.col("benchmark_id"))
        .groupBy("corpus_id", "benchmark_id", "nsh_b")
        .agg(F.count("*").alias("inter"))
    )
    fp_c = corpus.select(
        F.col(id_col).alias("corpus_id"), doc_fingerprint(text_col).alias("fp_c")
    )
    fp_b = benchmark.select(
        F.col(id_col).alias("benchmark_id"), doc_fingerprint(text_col).alias("fp_b")
    )
    return (
        inter.withColumn(
            "containment", F.col("inter") / F.col("nsh_b").cast("double")
        )
        .filter(F.col("containment") >= threshold)
        .join(fp_c, "corpus_id")
        .join(F.broadcast(fp_b), "benchmark_id")
        .select(
            "corpus_id",
            "benchmark_id",
            "containment",
            (F.col("fp_c") == F.col("fp_b")).alias("is_exact"),
        )
    )


def duplicate_ngram_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate token runs: every n-token window that
    appears verbatim in >= ``min_docs`` distinct documents, with how many
    documents and occurrences carry it — the detection half of
    substring-level training-data dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better": boilerplate and licence
    blocks repeat as runs inside otherwise-distinct documents, which
    document-level fingerprints never see).

    Shape: rolling windows come from an in-row ``transform`` over the
    token array (no UDF, no self-join); each window is collapsed to its
    md5 BEFORE the explode so the shuffle carries 32-byte digests, not
    n-token strings; one groupBy on the digest with map-side partial
    aggregation. At 100 TB this is the word-count plan over ~L windows
    per document — the only shuffle key is the digest, uniformly
    distributed by construction.

    Output: (gram, n_docs, n_occ) for flagged runs. Removal (masking the
    flagged spans) stays with the caller — policy differs per corpus.
    """
    toks = tokens(F.col(text_col))
    # sequence(1, 0) counts DOWN in Spark — docs shorter than n windows
    # must short-circuit to an empty gram list, not a descending range
    grams = F.when(
        F.size("__toks") < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, n))),
        )
    )
    return (
        df.select(F.col(id_col).alias("__doc"), toks.alias("__toks"))
        .select("__doc", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct("__doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level exact dedup (Lee et al. "Deduplicating Training
    Data Makes Language Models Better" §3's line/paragraph variant, and
    what C4 does to boilerplate): a paragraph whose md5 appears in >=
    ``min_docs`` DISTINCT documents is removed from every document
    carrying it; each document is reassembled from its surviving
    paragraphs in original order. The document-level complement of
    ``scrub_duplicate_ngram_runs`` (token windows) — paragraphs are the
    granularity where page boilerplate (nav bars, footers, cookie
    banners) actually repeats.

    Shape: split -> posexplode -> md5 -> one groupBy on the digest
    (countDistinct doc, map-side partial agg) -> equi-join back on the
    digest -> one groupBy per doc reassembling with
    array_sort(collect_list(struct(pos, para))). The shuffle keys are
    the 32-byte digest and the doc id — both uniform; reassembly state
    per doc is the document itself (bounded by doc size, as any
    re-aggregation must be). Empty/whitespace paragraphs are kept as
    positional placeholders — a document with no duplicated paragraphs
    round-trips byte-for-byte — but are EXCLUDED from the hot-hash
    groupBy and never flagged (they would otherwise cross-match every
    blank line corpus-wide, and the digest group for '' would be
    corpus-sized). They do not count toward n_kept (kept = surviving
    content paragraphs), so n_kept + n_dropped = non-blank paragraphs.

    Output: (id, cleaned_text, n_kept, n_dropped); documents whose every
    non-blank paragraph was dropped keep only their blank placeholders
    (cleaned_text = '' when there were none).
    """
    base = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("__pos", "__para"),
    ).withColumn("__blank", F.trim(F.col("__para")) == "")
    hashed = base.select(
        "__doc",
        "__pos",
        "__para",
        "__blank",
        F.when(~F.col("__blank"), F.md5(F.col("__para"))).alias("__h"),
    )
    hot = (
        hashed.filter(~F.col("__blank"))
        .groupBy("__h")
        .agg(F.countDistinct("__doc").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h")
    )
    flagged = hashed.join(hot.withColumn("__dup", F.lit(True)), "__h", "left")
    docs = df.select(F.col(id_col).alias("__doc")).distinct()
    kept = (
        flagged.groupBy("__doc")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__dup").isNull(),
                                F.struct("__pos", "__para"),
                            )
                        )
                    ),
                    lambda s: s["__para"],
                ),
            ).alias("cleaned_text"),
            F.sum(
                (F.col("__dup").isNull() & ~F.col("__blank")).cast("long")
            ).alias("n_kept"),
            F.sum(F.col("__dup").isNotNull().cast("long")).alias("n_dropped"),
        )
    )
    return (
        docs.join(kept, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every k-token gram, slide a window of ``w``
    consecutive gram hashes, keep each window's MINIMUM hash; the
    distinct kept hashes are the document's fingerprint set. Guarantees:
    any shared run of >= w + k - 1 tokens between two documents yields
    at least one shared fingerprint, while only ~2/(w+1) of all gram
    hashes are kept — the compact rolling-hash fingerprint the brief's
    text-analysis battery calls for, complementing document-level md5
    (exact_fingerprint) and run-level flagging (duplicate_ngram_runs).

    Shape: grams, hashes, and window minima are ALL in-row higher-order
    functions (transform/slice/array_min) — the whole fingerprint
    derivation is a stateless scan stage with no shuffle and no UDF; the
    only shuffle is the final (doc, fingerprint) distinct. Hashes are
    md5 hex strings: lexicographic MIN over hex is portable across
    engines, and ties are md5 collisions (ignorable), so the classic
    rightmost-tie rule is unnecessary for cross-engine parity. Documents
    with fewer than ``w`` grams keep their single global minimum (the
    paper's degenerate case); documents shorter than ``k`` tokens emit
    nothing.

    Output: (id, fingerprint) distinct rows.
    """
    toks = tokens(F.col(text_col))
    grams = F.when(
        F.size("__toks") < k, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, k))),
        )
    )
    # per-window minima (windows END at position i, i = w..G); G < w
    # degenerates to the single global min — sequence() counts DOWN on
    # an empty range, so both branches must be explicit
    mins = (
        F.when(F.size("__h") == 0, F.array().cast("array<string>"))
        .when(F.size("__h") < w, F.array(F.array_min("__h")))
        .otherwise(
            F.transform(
                F.sequence(F.lit(w), F.size("__h")),
                lambda i: F.array_min(F.slice(F.col("__h"), i - (w - 1), w)),
            )
        )
    )
    return (
        df.select(F.col(id_col).alias("__doc"), toks.alias("__toks"))
        .select("__doc", grams.alias("__h"))
        .select("__doc", F.explode(mins).alias("fingerprint"))
        .select(F.col("__doc").alias(id_col), "fingerprint")
        .distinct()
    )


def _ppjoin_candidates(
    ordered: DataFrame, tau_num: int, tau_den: int
) -> DataFrame:
    """Candidate pairs for set_similarity_join from a frequency-ordered
    corpus ``(__id, __s sorted-rare-first, __n)``: prefix-token equi-join
    + length filter + PPJoin positional filter. Returns (__ida, __idb),
    a provable SUPERSET of all pairs with Jaccard >= tau_num/tau_den
    (every filter is an upper-bound argument; see set_similarity_join).
    Split out so the candidate-pruning contract is testable on its own.
    """
    # prefix length p = n - ceil(tau*n) + 1, in exact integers
    p = F.col("__n") - F.floor(
        (F.lit(tau_num) * F.col("__n") + tau_den - 1) / tau_den
    ).cast("int") + 1
    # Optional signature filter (PPJoin+'s suffix-filter role, done as
    # one bitmask instead of a per-pair suffix probe): when the caller
    # attached an exact bijective 63-bit mask ``__m`` (small-vocab path
    # in set_similarity_join), every bit in ma & ~mb witnesses a
    # DISTINCT token of a \ b, so inter <= na - bit_count(ma & ~mb) —
    # with a bijection the bound IS the exact intersection, and
    # sub-threshold pairs die at the RAW join row (three bigint ops +
    # popcount) before the pair groupBy ever sees them. A HASHED 64-bit
    # mask is deliberately NOT used in the general path: for shingle
    # vocabularies the mask saturates (birthday collisions push the
    # bound toward min(na, nb)) and the per-row evaluation costs more
    # than it prunes — measured 5.4 s -> 9.4 s on dd_ppjoin_pairs.
    has_mask = "__m" in ordered.columns
    mask_cols = ["__m"] if has_mask else []
    prefixes = ordered.select(
        "__id",
        "__n",
        *mask_cols,
        F.posexplode(F.slice("__s", 1, p)).alias("__pp", "__pt"),
    ).select(
        "__id", "__n", *mask_cols, (F.col("__pp") + 1).alias("__pp"), "__pt"
    )
    # length filter (part of PPJoin's candidate pruning): Jaccard >= tau
    # forces tau*|a| <= |b| <= |a|/tau, so size-incompatible pairs never
    # reach the verify join — on corpora with hot tokens this is the
    # difference between candidates ~ matches and candidates ~ token^2
    return (
        prefixes.alias("pa")
        .join(prefixes.alias("pb"), F.col("pa.__pt") == F.col("pb.__pt"))
        .filter(
            (F.col("pa.__id") < F.col("pb.__id"))
            & (F.col("pb.__n") * tau_den >= F.col("pa.__n") * tau_num)
            & (F.col("pa.__n") * tau_den >= F.col("pb.__n") * tau_num)
            # exact-signature filter: achievable overlap vs required alpha
            & (
                F.lit(True)
                if not has_mask
                else F.least(
                    F.col("pa.__n")
                    - F.expr("bit_count(pa.__m & ~pb.__m)"),
                    F.col("pb.__n")
                    - F.expr("bit_count(pb.__m & ~pa.__m)"),
                )
                >= F.floor(
                    (
                        F.lit(tau_num)
                        * (F.col("pa.__n") + F.col("pb.__n"))
                        + tau_num
                        + tau_den
                        - 1
                    )
                    / F.lit(tau_num + tau_den)
                )
            )
        )
        .groupBy(
            F.col("pa.__id").alias("__ida"),
            F.col("pb.__id").alias("__idb"),
            F.col("pa.__n").alias("__pna"),
            F.col("pb.__n").alias("__pnb"),
        )
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max("pa.__pp").alias("__pamax"),
            F.max("pb.__pp").alias("__pbmax"),
        )
        # positional filter: achievable overlap vs required minimum alpha
        .filter(
            F.col("__cnt")
            + F.least(
                F.col("__pna") - F.col("__pamax"),
                F.col("__pnb") - F.col("__pbmax"),
            )
            >= F.floor(
                (
                    F.lit(tau_num) * (F.col("__pna") + F.col("__pnb"))
                    + tau_num
                    + tau_den
                    - 1
                )
                / F.lit(tau_num + tau_den)
            )
        )
        # __cnt/__pamax/__pbmax ride along so the verify stage can apply
        # the PPJoin+ suffix filter without re-deriving prefix state
        .select("__ida", "__idb", "__cnt", "__pamax", "__pbmax")
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    *,
    tau_num: int = 6,
    tau_den: int = 10,
) -> DataFrame:
    """Exact set-similarity self-join with prefix filtering (PPJoin-lite,
    Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection"): all pairs with Jaccard >= tau_num/tau_den, WITHOUT the
    all-pairs product. Prefix-filter completeness: order every set by
    ascending global token frequency (rare first); two sets with
    Jaccard >= tau MUST share a token inside each other's first
    n - ceil(tau*n) + 1 tokens, so joining on prefix tokens generates a
    candidate superset and the exact integer cross-multiplied Jaccard
    test (inter * den >= num * (na + nb - inter)) finishes the job — no
    floats anywhere, so any engine's brute-force twin agrees exactly.

    Unlike MinHash-LSH (probabilistic recall) this is EXACT at scale:
    candidates ~ pairs sharing rare tokens, not all pairs. Shuffles:
    token-frequency aggregate, per-set regroup, prefix-token join —
    all equi-keyed; the rare-first order keeps the hottest join key as
    cold as possible (frequency ties broken by token for determinism).

    PPJoin positional filter (Xiao et al. §3.2): candidates carry the
    POSITION of each shared prefix token, and the pair-dedup groupBy
    (which a plain ``distinct`` would pay for anyway) additionally
    aggregates (shared-prefix count, max positions). Because both sets
    are sorted by the same total order, the max-order shared prefix
    token attains both position maxima at once, every shared token
    before it is itself a shared-in-both-prefixes token (counted), and
    every shared token after it lies beyond position pa in a AND pb in
    b — so total overlap <= cnt + min(na - pa, nb - pb). Pairs whose
    bound misses the minimum overlap alpha = ceil(num*(na+nb)/(num+den))
    never reach the verify join, which is where the array fetch +
    array_intersect cost lives.

    PPJoin+ suffix filter (Xiao et al. §3.3, one probe): survivors of
    the positional filter reach the verify join carrying (shared-prefix
    count, max prefix positions). Both ordered suffixes — everything
    after the max-position shared prefix token — partition exactly
    around any pivot value, so with the median of b's suffix as pivot,
    |suffix_a ∩ suffix_b| <= min(la, lb) + min(ra, rb) where l/r count
    members below/at-or-above the pivot on each side. Total overlap is
    EXACTLY cnt + |suffix_a ∩ suffix_b| (every shared token at or
    before the max-position one is already counted in cnt; every later
    one lies in both suffixes), so pairs whose probe bound misses alpha
    drop BEFORE the O(na+nb) exact intersection — the one PPJoin+ trick
    the r6/r7 rounds had left on the table. To make the probe a plain
    integer comparison, set members are carried as BIGINT vocab ids
    whose numeric order equals the rare-first (frequency, token) total
    order (order-preserving injective assignment via a range-partitioned
    vocab sort + monotonically_increasing_id — see the inline comment),
    so array_sort yields exactly that order and range compares agree
    with it; the mapping is injective, so intersections and counts are
    unchanged. Every filter is an upper-bound argument: the surviving
    set is a superset of true matches — the exact verify is unchanged
    and so is the output.

    Output: (id_a, id_b, inter, union_n, jaccard) with id_a < id_b.
    """
    # Materialize the deduplicated member arrays BEFORE anything touches
    # them. The set_col expression is often an expensive interpreted
    # chain the CALLER built lazily (tokenize -> shingle transform), and
    # exploding/filtering it lazily re-evaluates that chain many times:
    # Catalyst pushes size()>0 filters below the projection into the
    # scan filter, and Generate over a non-trivial input re-evaluates
    # the input expression per emitted row — measured 4.3 s for a lazy
    # explode vs 0.2 s over a materialized array column at sf0.1.
    # array_distinct here is in-row (no shuffle) and replaces a
    # row-level distinct on the exploded pairs.
    arrs = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(set_col)).alias("__s0"),
    ).localCheckpoint()
    # Partition-count normalization (guide §2.2: fewer, larger partitions).
    # Callers often hand in a union of K filtered variants of one scan:
    # each branch gets its own minPartitionNum-floored split set, so the
    # checkpoint can carry K*cores partitions of near-empty data, and the
    # 5+ downstream passes over it (freq explode, postings join, prefix
    # explode, both verify sides) each pay K*cores task launches for
    # micro-partitions (measured: the r12 threshold-sweep corpus rode 160
    # partitions for 7k docs; the `ordered` build alone dropped 4.2s ->
    # 1.2s at sf0.1 once merged). Gate on the MEASURED row count so the
    # merge only fires when the merged partitions stay small (<= 50k
    # doc-rows each): a corpus-scale input keeps its layout untouched.
    target = df.sparkSession.sparkContext.defaultParallelism
    if (
        arrs.rdd.getNumPartitions() > target
        and arrs.count() <= 50_000 * target
    ):
        arrs = arrs.coalesce(target)
    tok = arrs.select("__id", F.explode("__s0").alias("__t"))
    # freq is vocab-sized and consumed by THREE readers below (the range
    # partitioner's sampling pass, the range exchange itself, and the
    # small-vocab probe/bits) — checkpoint it so the corpus-sized explode
    # + partial aggregation runs once, not per reader (repartitionByRange
    # alone executes its child twice: once to sample boundaries, once to
    # shuffle).
    freq = (
        tok.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__f"))
        .localCheckpoint()
    )
    # r12 (guide §2.3 narrower types / shuffle fewer bytes): set members
    # used to travel as zero-padded-frequency + \x01 + token ENCODED
    # STRINGS (~55 bytes per trigram shingle) through every downstream
    # pass — the prefix-join key, both verify sides' full arrays, the
    # suffix probe's comparisons. They are replaced by BIGINT vocab ids
    # whose numeric order IS the rare-first (freq, token) total order:
    # range-partition the vocab by (freq, token), sort within partitions,
    # and take monotonically_increasing_id() — the range partitioner
    # guarantees every id in partition k sorts below partition k+1's and
    # the per-partition sort orders ids within it, so the map is
    # injective and order-preserving, with no Python boundary and no
    # driver collect (the vocab-rank analogue of the two-phase scan).
    # Everything the order guarantees (prefix-filter completeness, the
    # suffix probe's pivot partition) holds verbatim; the exact verify
    # is order-independent — measured 3.9 s -> ~1.5 s on the sweep
    # fixture's verify stage at sf0.1 (188k candidates x ~2.5 KB of
    # strings -> ~0.4 KB of longs per side).
    # localCheckpoint (lazy) pins ONE id assignment (r13, VERDICT r12 #4
    # hardening): vocab is executed by at least two consumers (the
    # `ordered` build and the small-vocab `bits` collect), and its ids
    # come from repartitionByRange (sampled boundaries) +
    # monotonically_increasing_id — deterministic only while both
    # executions see identical checkpointed `freq` partitions. Pinning
    # the vocab itself (vocab-sized; lazy, so it materializes inside the
    # `ordered` job rather than as an extra scheduled job) makes the id
    # map a single materialized fact instead of a replayable coincidence.
    vocab = (
        freq.repartitionByRange(
            df.sparkSession.sparkContext.defaultParallelism, "__f", "__t"
        )
        .sortWithinPartitions("__f", "__t")
        .withColumn("__vid", F.monotonically_increasing_id())
        .select("__t", "__vid")
        .localCheckpoint(eager=False)
    )
    # materialized once: three consumers (prefixes + both verify sides)
    # would otherwise re-run the explode/frequency chain each —
    # measured 10 s -> ~3 s at sf0.1 for the registry fixture
    ordered = (
        tok.join(vocab, "__t")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list("__vid")).alias("__s"))
        .select("__id", "__s", F.size("__s").alias("__n"))
        .localCheckpoint()
    )
    # Adaptive small-vocab fast path: when the corpus vocabulary fits 63
    # bits, tokens map BIJECTIVELY to bit positions (a ≤63-entry literal
    # map, collected from the vocab-sized freq table — bounded driver
    # work). Then (1) the candidate-stage signature bound becomes the
    # EXACT intersection, so the raw prefix-join rows of sub-threshold
    # pairs die before the pair groupBy, and (2) verify is one popcount
    # over two bigints — no token arrays shuffled at all. Small-vocab
    # corpora are exactly where prefix filtering is weakest (every token
    # is hot, candidates ~ pairs) AND where a hashed 64-bit signature
    # goes soft (birthday collisions among the vocab loosen the bound),
    # so the bijective path kicks in right where it's needed. Same
    # output by construction. The vocab probe reads the CHECKPOINTED
    # freq table (limit-capped count on vocab-sized data — the former
    # explode of the ordered arrays re-scanned the corpus just to learn
    # "too big").
    # probe capped at 64: on shingle corpora (vocab in the millions at
    # 100 TB) the limit stops the probe from materializing the whole
    # distinct-token set just to learn "too big"
    nvocab = freq.limit(64).count()
    if nvocab <= 63:
        # bit positions keyed on the vocab IDS the arrays now carry,
        # ordered (freq asc, token asc) as before — ≤63 rows collected
        bits = {
            r["__vid"]: i
            for i, r in enumerate(
                freq.join(vocab, "__t")
                .orderBy(F.col("__f").asc(), F.col("__t").asc())
                .collect()
            )
        }
        vmap = F.create_map(
            *[
                x
                for t, bpos in bits.items()
                # members are bigint vocab ids: cast every key literal so
                # small and large ids build one consistently-typed map
                for x in (
                    F.lit(t).cast("bigint"),
                    F.lit(1 << bpos).cast("bigint"),
                )
            ]
        )
        exact_mask = F.aggregate(
            F.transform("__s", lambda t: F.element_at(vmap, t)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc.bitwiseOR(x),
        )
        # pin the mask so the (interpreted) per-doc fold runs once, not
        # once per exploded prefix row / verify side
        ordered = ordered.withColumn("__m", exact_mask).localCheckpoint()
    cand = _ppjoin_candidates(ordered, tau_num, tau_den)
    if nvocab <= 63:
        a = ordered.select(
            F.col("__id").alias("__ida"),
            F.col("__m").alias("__ma"),
            F.col("__n").alias("__na"),
        )
        b = ordered.select(
            F.col("__id").alias("__idb"),
            F.col("__m").alias("__mb"),
            F.col("__n").alias("__nb"),
        )
        inter = F.expr("bit_count(__ma & __mb)")
    else:
        a = ordered.select(
            F.col("__id").alias("__ida"), F.col("__s").alias("__sa"), F.col("__n").alias("__na")
        )
        b = ordered.select(
            F.col("__id").alias("__idb"), F.col("__s").alias("__sb"), F.col("__n").alias("__nb")
        )
        # r13 (guide §2.4 — don't recompute what the candidate stage
        # already proved): total overlap = __cnt + |suffix_a ∩ suffix_b|
        # EXACTLY (the same identity the suffix probe's bound relies on,
        # see the PPJoin+ docstring paragraph: every shared token at or
        # before the max-position shared prefix token is already counted
        # in __cnt, every later one lies strictly inside both suffixes
        # because the arrays share one total order). So the exact verify
        # intersects only the suffixes PAST (__pamax, __pbmax) instead of
        # the full arrays — at tau 0.5 the prefixes are up to half the
        # set, so the hash-set build that dominates the O(candidates)
        # verify shrinks accordingly. slice() with length 0 yields an
        # empty array, so empty suffixes degrade to inter = __cnt.
        inter = F.col("__cnt") + F.size(
            F.array_intersect(
                F.expr("slice(__sa, __pamax + 1, __na - __pamax)"),
                F.expr("slice(__sb, __pbmax + 1, __nb - __pbmax)"),
            )
        )
    joined = cand.join(a, "__ida").join(b, "__idb")
    if nvocab > 63:
        # PPJoin+ one-probe suffix filter (see docstring): bound the
        # suffix overlap by partitioning both suffixes around the median
        # of b's suffix, and drop the pair before the exact intersection
        # when cnt + bound < alpha. Arrays are sorted encoded strings,
        # so `<` agrees with the rare-first order. All integer/compare
        # ops; NULL pivot (empty b-suffix) means zero suffix overlap.
        alpha = F.floor(
            (
                F.lit(tau_num) * (F.col("__na") + F.col("__nb"))
                + tau_num
                + tau_den
                - 1
            )
            / F.lit(tau_num + tau_den)
        )
        joined = (
            joined.withColumn("__sza", F.col("__na") - F.col("__pamax"))
            .withColumn("__szb", F.col("__nb") - F.col("__pbmax"))
            .withColumn(
                "__piv",
                F.expr(
                    "element_at(__sb, CAST(__pbmax + (__szb + 1) DIV 2 AS INT))"
                ),
            )
            .withColumn(
                "__la",
                F.when(F.col("__piv").isNull(), F.lit(0)).otherwise(
                    F.size(
                        F.filter(
                            F.expr("slice(__sa, __pamax + 1, __sza)"),
                            lambda x: x < F.col("__piv"),
                        )
                    )
                ),
            )
            .withColumn("__lb", F.expr("(__szb + 1) DIV 2 - 1"))
            .withColumn(
                "__bound",
                F.when(
                    (F.col("__sza") <= 0) | (F.col("__szb") <= 0), F.lit(0)
                ).otherwise(
                    F.least(F.col("__la").cast("bigint"), F.col("__lb"))
                    + F.least(
                        (F.col("__sza") - F.col("__la")).cast("bigint"),
                        F.col("__szb").cast("bigint") - F.col("__lb"),
                    )
                ),
            )
            .filter(F.col("__cnt") + F.col("__bound") >= alpha)
        )
    return (
        joined.withColumn("inter", inter)
        .filter(
            F.col("inter") * tau_den
            >= tau_num * (F.col("__na") + F.col("__nb") - F.col("inter"))
        )
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.col("inter").cast("bigint").alias("inter"),
            (F.col("__na") + F.col("__nb") - F.col("inter"))
            .cast("bigint")
            .alias("union_n"),
            (
                F.col("inter")
                / (F.col("__na") + F.col("__nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def scrub_duplicate_ngram_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    sentinel: str = "<DUP>",
) -> DataFrame:
    """The removal half of substring-level dedup: every token covered by
    an n-token window that ``duplicate_ngram_runs`` flags (verbatim in
    >= min_docs documents) is replaced with ``sentinel`` — completing
    the Lee-et-al. loop (detect repeated runs, then mask them out of
    every carrier, not just drop whole documents).

    Shape: windows are (position, digest) pairs built in-row; the
    flagged-digest list broadcasts back onto them; covered positions
    collapse to one set per document (one key shuffle); masking is an
    indexed in-row transform. No self-joins over text, and the only
    wide exchange carries (doc, position) ints.

    Output: (id, n_masked, clean_fp) — masked-token count and the md5
    of the cleaned text (the fingerprint downstream exact-dedup keys
    on; emitting full text is the caller's variant).
    """
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("__doc"), toks.alias("__toks")).filter(
        F.size("__toks") > 0
    )
    wins = base.filter(F.size("__toks") >= n).select(
        "__doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
                lambda i: F.struct(
                    i.alias("i"),
                    F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, n))).alias(
                        "g"
                    ),
                ),
            )
        ).alias("w"),
    ).select("__doc", F.col("w.i").alias("__i"), F.col("w.g").alias("__g"))
    flagged = (
        wins.groupBy("__g")
        .agg(F.countDistinct("__doc").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__g")
    )
    cov = (
        wins.join(F.broadcast(flagged), "__g")
        .select(
            "__doc",
            F.explode(
                F.sequence(F.col("__i"), F.col("__i") + (n - 1))
            ).alias("__p"),
        )
        .distinct()
        .groupBy("__doc")
        .agg(F.collect_set("__p").alias("__cov"))
    )
    masked = F.transform(
        F.col("__toks"),
        lambda t, idx: F.when(
            F.array_contains(F.col("__cov"), idx + 1), F.lit(sentinel)
        ).otherwise(t),
    )
    out = base.join(cov, "__doc", "left").withColumn(
        "__cov", F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    )
    return out.select(
        F.col("__doc").alias(id_col),
        F.size("__cov").cast("bigint").alias("n_masked"),
        F.md5(F.concat_ws(" ", masked)).alias("clean_fp"),
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    boundary_mask: int = 15,
) -> DataFrame:
    """Content-defined chunking dedup (FastCDC/rsync-style, over token
    streams): split every document at positions where a rolling hash of
    the last ``k`` tokens satisfies ``H % (boundary_mask+1) ==
    boundary_mask``, fingerprint each chunk, and report chunk
    fingerprints that recur across documents. CDC finds SHIFTED shared
    spans that fixed-size chunking misses: inserting one sentence moves
    every fixed chunk boundary after it, but content-defined boundaries
    re-synchronize within ~k tokens, so the downstream chunks still
    fingerprint identically.

    Cross-engine-portable hash: token hash = first 15 hex digits of
    md5(token) as bigint, reduced mod 2^20; window hash = h_i + h_{i-1}
    * 2^20 + h_{i-2} * 2^40 (fits bigint: < 2^61). A windowed
    polynomial, not a recurrence — each position's hash is a pure
    expression of a bounded window (lag columns), so the whole pass is
    three narrow window functions inside one per-document sort, no
    iteration and no Python.

    Returns one row per cross-document duplicated chunk: (chunk_fp,
    n_docs, n_occurrences, n_tokens) — the dedup ledger a substring-
    level scrubber consumes. Scale: per-document windows partition by
    doc (no global sort); the only corpus-wide shuffle is the final
    fingerprint groupBy, keyed on 128-bit hashes, not text.
    """
    toks = docs.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(tokens(F.col(text_col))).alias("__i", "__w"),
    )
    h20 = F.expr(
        "CAST(conv(substring(md5(__w), 1, 15), 16, 10) AS BIGINT)"
        " % 1048576"
    )
    wd = Window.partitionBy("__doc").orderBy("__i")
    hashed = toks.withColumn("__h", h20).select(
        "__doc",
        "__i",
        "__w",
        (
            F.col("__h")
            + F.lag("__h", 1).over(wd) * F.lit(1 << 20).cast("bigint")
            + F.lag("__h", 2).over(wd) * F.lit(1 << 40).cast("bigint")
        ).alias("__H"),
    )
    if k != 3:  # the windowed polynomial above is written for k=3
        raise NotImplementedError("cdc_chunk_dedup supports k=3")
    # Fold through a prime BEFORE masking: with the power-of-two base,
    # H's low bits are the newest token's low bits alone, so a direct
    # H % 2^m test would degenerate to single-token gear-less chunking
    # (and can starve entirely on small vocabularies). The prime fold
    # mixes all k window tokens into the boundary decision; both
    # operands stay non-negative bigints, so % is portable.
    boundary = F.when(
        F.col("__H").isNotNull()
        & (
            (F.col("__H") % F.lit(999999937).cast("bigint"))
            % (boundary_mask + 1)
            == boundary_mask
        ),
        1,
    ).otherwise(0)
    flagged = hashed.withColumn("__b", boundary)
    chunk_id = F.coalesce(
        F.sum("__b").over(wd.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    chunks = (
        flagged.withColumn("__c", chunk_id)
        .groupBy("__doc", "__c")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__i", "__w"))
                        ),
                        lambda s: s["__w"],
                    ),
                    " ",
                )
            ).alias("chunk_fp"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.countDistinct("__doc").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )
