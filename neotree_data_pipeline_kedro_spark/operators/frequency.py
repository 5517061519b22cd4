"""Exact frequent-items at scale: Misra-Gries candidate generation plus an
exact verification pass.

One groupBy over a 100 TB token stream is already skew-safe (map-side
partial aggregation), but its shuffle carries EVERY distinct item — for
frequent-ITEM queries (support >= s) that is wasted work on the long tail.
The classic two-pass shape used here:

1. per-partition Misra-Gries summaries with k = ceil(factor/s) counters —
   bounded state, one streaming pass over Arrow batches, vectorized per
   batch (merge a batch's value_counts, then apply the mergeable-summary
   reduction of Agarwal et al., "Mergeable Summaries": subtract the
   (k+1)-th largest count from all and drop non-positives). Pigeonhole
   guarantees the union of per-partition candidate KEYS is a superset of
   every item with global frequency >= 1/k: such an item has local
   frequency >= n_p/k > n_p/(k+1) in at least one partition, and MG
   retains everything above n_p/(k+1).
2. exact counts for candidates only (broadcast semi-join on the bounded
   candidate list), filtered to count >= ceil(s * N).

The result is EXACT — the sketch only prunes the tail before the shuffle —
so a plain GROUP BY ... HAVING oracle states the same answer.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def mg_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries candidate keys, ``k`` counters each.
    Output: one row per surviving (partition-local) candidate value."""

    def partial(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        counters: dict = {}
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    v: c - cut for v, c in counters.items() if c - cut > 0
                }
        yield pd.DataFrame({col: list(counters.keys())})

    return df.select(col).mapInPandas(
        partial, schema=T.StructType([df.schema[col]])
    )


def frequent_items(
    df: DataFrame, col: str, support: float, *, candidate_factor: float = 1.0
) -> DataFrame:
    """All values of ``col`` with frequency >= ``support`` (exact), with
    their exact counts. ``candidate_factor`` > 1 widens the per-partition
    sketch for safety margin; 1.0 is already sufficient by the pigeonhole
    argument in the module docstring.

    Output: (col, cnt) — every item with cnt >= ceil(support * N).
    """
    k = math.ceil(candidate_factor / support)
    cands = mg_candidates(df, col, k).distinct()
    total = df.groupBy().agg(F.count(col).alias("__n"))
    return (
        df.join(F.broadcast(cands), [col], "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.lit(support) * F.col("__n")))
        .drop("__n")
    )


def unigram_logprob(
    tokens_df: DataFrame,
    doc_col: str,
    token_col: str,
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Unigram language-model scoring: each document's corpus
    log-likelihood sum(ln(count(token)/N)) — the cheap fluency/quality
    signal (gibberish and boilerplate-free text score very differently
    against the corpus's own unigram model; pair with perplexity
    thresholds for filtering).

    Cross-engine exactness: each token's ln(p) is quantized to integer
    micro-units BEFORE the per-document sum, so only the single ln call
    can differ between engines and the round absorbs last-ulp drift
    (the BM25 idf discipline, functions/text.py). Vocabulary counts
    broadcast back onto the token stream — one count shuffle, one
    per-doc sum shuffle, both map-side-combined.

    Input: one row per (doc, token). Output: (doc, n_tokens,
    logprob_micro) with logprob_micro = sum of round(ln(c/N)*scale).
    """
    vocab = tokens_df.groupBy(token_col).agg(F.count(F.lit(1)).alias("__c"))
    total = tokens_df.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    contrib = (
        tokens_df.join(F.broadcast(vocab), [token_col])
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__lp",
            F.round(
                F.log(F.col("__c").cast("double") / F.col("__n")) * scale, 0
            ).cast("long"),
        )
    )
    return contrib.groupBy(doc_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("__lp").alias("logprob_micro"),
    )


def countmin_counters(
    items: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch counters (Cormode & Muthukrishnan) as a plain
    aggregate: each item increments one bucket per hash row, so the
    whole sketch is ``depth x width`` counter rows — a mergeable partial
    aggregate the same way partial_rollup's sums are (union two sketches
    by summing matching (row, bucket) counters). The 100 TB use: track
    approximate frequencies of an UNBOUNDED key universe (urls, ngrams,
    ips) in fixed memory, where the exact groupBy's shuffle would carry
    every distinct key; the sketch shuffle carries at most depth*width
    rows per partition.

    Determinism: the hash rows are md5-derived (row d hashes
    ``d ':' key``), so any engine replaying the same construction gets
    the identical sketch — estimates become oracle-comparable, which is
    exactly what probabilistic-seed sketches can never be.

    Output: (row, bucket, counter) — depth*width rows max.
    """
    e = items.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(depth - 1))
        ).alias("row"),
        F.col(key_col).cast("string").alias("__k"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("row"), F.col("__k"))), 1, 6
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )
    return (
        e.select("row", bucket.alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("counter"))
    )


def countmin_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch for each key: estimate = MIN over hash
    rows of that row's bucket counter (the CM upper bound; never under-
    estimates, overestimates by collisions only). The counter table is
    depth*width rows — broadcast BY CONSTRUCTION (a true constant,
    unlike the sf-growing tables the g6 standard forbids hinting).

    Output: (key, est_count).
    """
    probes = keys.select(
        F.col(key_col).alias("key"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("row"), F.col("key").cast("string"))
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )
    return (
        probes.select("key", "row", bucket.alias("bucket"))
        .join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("key")
        .agg(F.min("counter").cast("bigint").alias("est_count"))
    )


def dsir_ratio_weights(
    tokens_df: DataFrame,
    doc_col: str,
    token_col: str,
    is_target: F.Column,
    *,
    buckets: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al., "Data
    Selection for Language Models via Importance Resampling") with
    hashed token features: score each raw document by how target-like
    its hashed-unigram profile is. The published estimator sums hashed
    n-gram log-likelihood ratios; this twin substitutes the exact
    integer PPM RATIO ``scale * p_target[b] div p_raw[b]`` per bucket
    (Laplace +1 smoothed) and weights each document by its count-
    weighted mean bucket ratio. A deliberate, documented divergence:
    log-ratios are transcendental (cross-engine ulp roulette, see
    SNIPPETS BM25 discipline) while the ratio surrogate is exact in
    both engines and preserves the target-like > raw-like ordering the
    resampling step consumes.

    Shape: feature hashing is md5-derived (portable, f_feature_hashing
    discipline); the bucket weight table is ``buckets`` rows — a true
    constant, broadcast by construction; one groupBy per (doc, bucket)
    and one per doc. Output: (doc, n_tokens, weight_ppm) where
    weight_ppm = floor(sum(count_b * ratio_ppm[b]) / n_tokens).
    """
    b = (
        F.conv(
            F.substring(F.md5(F.col(token_col).cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        % buckets
    )
    feats = tokens_df.select(
        F.col(doc_col).alias("__doc"),
        b.alias("__b"),
        is_target.cast("long").alias("__t"),
    )
    dist = feats.groupBy("__b").agg(
        (F.sum("__t") + 1).alias("__ct"),
        (F.sum(F.lit(1) - F.col("__t")) + 1).alias("__cr"),
    )
    ratios = dist.select(
        "__b",
        F.floor(F.lit(scale) * F.col("__ct") / F.col("__cr"))
        .cast("bigint")
        .alias("__ratio"),
    )
    per_bucket = (
        feats.filter(F.col("__t") == 0)
        .groupBy("__doc", "__b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    return (
        per_bucket.join(F.broadcast(ratios), "__b")
        .groupBy("__doc")
        .agg(
            F.sum("__n").cast("bigint").alias("n_tokens"),
            F.floor(
                F.sum(F.col("__n") * F.col("__ratio")) / F.sum("__n")
            )
            .cast("bigint")
            .alias("weight_ppm"),
        )
        .select(F.col("__doc").alias(doc_col), "n_tokens", "weight_ppm")
    )


def histogram_bucket(
    value, lo: float, hi: float, buckets: int = 64
):
    """Clamped equi-width bucket id for ``value`` over [lo, hi) — the
    derivation behind histogram_state: out-of-range values count at the
    edges instead of minting invalid bucket ids."""
    b = F.floor(
        (F.col(value) - F.lit(lo)) * F.lit(float(buckets)) / F.lit(hi - lo)
    ).cast("int")
    return F.greatest(F.least(b, F.lit(buckets - 1)), F.lit(0))


def histogram_state(
    df: DataFrame,
    group: str,
    value: str,
    lo: float,
    hi: float,
    buckets: int = 64,
) -> DataFrame:
    """(group, bucket, cnt) equi-width histogram state — the MERGEABLE
    quantile-rollup structure: per-(group, bucket) counts add across
    partitions, days, and retention tiers with a plain SUM, unlike exact
    per-group percentile state (a full sorted buffer). ``lo``/``hi``
    come from the caller (a prior bounded min/max pass, or a known
    domain); values at/above ``hi`` clamp into the top bucket and values
    below ``lo`` into the bottom one (out-of-range rows count at the
    edge rather than minting negative/overflow bucket ids that would
    silently corrupt the quantile walk — r7 advice). The bucket
    expression is pure IEEE double arithmetic on exact inputs, so two
    engines evaluating the same shape agree bit-for-bit."""
    b = histogram_bucket(value, lo, hi, buckets)
    return (
        df.select(F.col(group), b.alias("bucket"))
        .groupBy(group, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def histogram_quantile(
    state: DataFrame,
    group: str,
    q_num: int,
    q_den: int,
    lo: float,
    hi: float,
    buckets: int = 64,
    out: str = "est",
) -> DataFrame:
    """Interpolated quantile estimate from histogram state: target rank
    t = (n·q_num) DIV q_den, clamped to n−1 so q_num == q_den (p100)
    resolves to the top bucket instead of matching none and silently
    dropping the group (r7 advice); inside the covering bucket, estimate
    lo + (bucket + (t − cum_before)/cnt) · width. Error is bounded by
    one bucket width — the contract a pytest pins against the exact
    percentile. Integer rank arithmetic + one double interpolation, so
    estimates hash-compare across engines. Returns (group, n, out)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group).orderBy("bucket")
    width = (hi - lo) / float(buckets)
    cum = state.select(
        F.col(group),
        "bucket",
        "cnt",
        F.coalesce(
            F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ).alias("cumb"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    t = F.expr(f"least((n * {q_num}) DIV {q_den}, n - 1)")
    return (
        cum.withColumn("__t", t)
        .filter(
            (F.col("cumb") <= F.col("__t"))
            & (F.col("__t") < F.col("cumb") + F.col("cnt"))
        )
        .select(
            F.col(group),
            F.col("n"),
            (
                F.lit(lo)
                + (
                    F.col("bucket")
                    + (F.col("__t") - F.col("cumb")).cast("double")
                    / F.col("cnt").cast("double")
                )
                * F.lit(width)
            ).alias(out),
        )
    )
