"""Full-text relevance search over a document corpus: inverted postings,
TF-IDF weights, and BM25 top-k — the retrieval side of an LLM data
pipeline (quality-biased sampling, dedup triage, eval-set mining). No
counterpart in the reference engine; first-class extension alongside
SURVEY §2.

Scale shape: the postings build is one explode + one (term, doc) groupBy —
map-side partial aggregation absorbs the Zipf head before the shuffle, the
same skew-safe plan as ta_vocab_topk. Corpus statistics (N, avgdl) are a
single-row aggregate broadcast back with a crossJoin, never collected to
the driver. Scoring filters postings to the (small, literal) query-term
list — a pushed-down IN filter, not a join — so the scoring stage touches
only the matched postings; the final top-k is a TakeOrdered, not a global
sort.

Cross-engine exactness: per-(doc, term) BM25 contributions are quantized to
integer micro-units before the per-doc sum, making the aggregate
order-independent (the same decimal-partial-sum trick as q1) and immune to
float-summation-order drift between Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Inverted postings list: one row per (term, doc) with the term
    frequency. Map-side partial agg handles the Zipf-skewed term key."""
    return (
        docs.select(
            F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
        )
        .groupBy("term", "id")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


def doc_lengths(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("dl"),
    )


def _bm25_weight(tf: Column, dl: Column, avgdl: Column, k1: float, b: float) -> Column:
    return (tf.cast("double") * (k1 + 1.0)) / (
        tf.cast("double") + k1 * (1.0 - b + b * dl.cast("double") / avgdl)
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    scale: int = 1_000_000,
) -> DataFrame:
    """BM25 top-k: (id, score_micro, score) for the ``k`` best documents,
    ties broken by id ascending. ``score_micro`` is the exact bigint sum of
    per-term contributions quantized at ``scale``; ``score`` is derived
    from it, so both are bit-stable across engines and partitionings.

    idf is the Lucene-style always-positive form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``.
    """
    post = postings(docs, id_col, text_col)
    dl = doc_lengths(docs, id_col, text_col)
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    matched = post.filter(F.col("term").isin(query_terms))
    df_t = matched.groupBy("term").agg(F.count("*").cast("double").alias("df"))

    scored = (
        matched.join(F.broadcast(df_t), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * _bm25_weight(
        F.col("tf"), F.col("dl"), F.col("avgdl"), k1, b
    )
    return (
        scored.select(
            "id", F.round(contrib * scale).cast("bigint").alias("c")
        )
        .groupBy("id")
        .agg(F.sum("c").alias("score_micro"))
        .withColumn("score", F.col("score_micro").cast("double") / scale)
        .orderBy(F.desc("score_micro"), F.asc("id"))
        .limit(k)
    )


def rbo_weights(p: float = 0.9, depth: int = 10, scale: int = 10**15) -> list[int]:
    """Exact integer suffix weights for fixed-depth rank-biased overlap
    (Webber, Moffat & Zobel 2010, eq. 4 truncated at ``depth``).

    ``suffix[m-1]`` is the total contribution of an item whose LATER of
    the two ranks is m: sum over k >= m of (1-p)·p^(k-1)/k. Quantizing
    each per-k weight ONCE here (driver-side Python, then inlined as
    literals into both the Spark plan and any SQL oracle) means both
    engines sum identical integers — the RBO score is an exact integer
    sum, never an order-dependent float reduction.
    """
    per_k = [round((1 - p) * p ** (k - 1) / k * scale) for k in range(1, depth + 1)]
    return [sum(per_k[m - 1 :]) for m in range(1, depth + 1)]


def rank_biased_overlap(
    a: DataFrame,
    b: DataFrame,
    group_cols: list[str],
    item_col: str,
    rank_col: str,
    *,
    p: float = 0.9,
    depth: int = 10,
    scale: int = 10**15,
    out_col: str = "rbo",
) -> DataFrame:
    """Fixed-depth rank-biased overlap between two rankings per group —
    the standard top-weighted metric for comparing ranked lists
    (search-result drift between index builds, embedding-model A/Bs,
    before/after ANN recall checks). 1.0 = identical prefixes; top-rank
    disagreements cost far more than tail ones.

    Scale shape: both sides are pre-filtered to rank <= depth (depth
    rows per group — the rankings themselves should be built with a
    per-group top-k, never a global sort), one equi-join on
    (group, item), one grouped integer sum. Join and agg share the
    group-key shuffle; weight lookup is a literal array element_at —
    no driver work, no floats in the aggregate.
    """
    suffix = rbo_weights(p, depth, scale)
    sfx = F.array(*[F.lit(s).cast("bigint") for s in suffix])
    ra = a.where(F.col(rank_col) <= depth).select(
        *group_cols, F.col(item_col).alias("__item"), F.col(rank_col).alias("__ra")
    )
    rb = b.where(F.col(rank_col) <= depth).select(
        *group_cols, F.col(item_col).alias("__item"), F.col(rank_col).alias("__rb")
    )
    joined = ra.join(rb, [*group_cols, "__item"]).select(
        *group_cols,
        F.element_at(sfx, F.greatest("__ra", "__rb").cast("int")).alias("__w"),
    )
    groups = a.select(*group_cols).distinct()
    sums = joined.groupBy(*group_cols).agg(F.sum("__w").alias("__s"))
    return groups.join(sums, group_cols, "left").select(
        *group_cols,
        (F.coalesce(F.col("__s"), F.lit(0)).cast("double") / F.lit(float(scale)))
        .alias(out_col),
    )


def bm25_retrieval_eval(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict[int, list[str]],
    k: int,
    *,
    k1: float = 1.25,
    b: float = 0.75,
    scale: int = 1_000_000,
    rel_id_pred: Column | None = None,
) -> DataFrame:
    """End-to-end retrieval-quality evaluation: run BM25 for EVERY query
    in one pass over the postings, derive relevance labels (a document
    is relevant to a query iff it contains ALL the query's terms — the
    deterministic qrel both engines can replay — optionally intersected
    with ``rel_id_pred``, a boolean Column over ``id`` that models the
    labeled-SUBSET reality of human qrels: most matching documents are
    never judged, so rankings mix relevant and unjudged and the metrics
    leave the degenerate 1.0 ceiling), and emit the IR metric row per
    query: recall@k, MRR, and nDCG@k, all in exact integer ppm.

    This is the eval loop a retrieval-backed data pipeline runs after
    every index/scoring change — search without the eval harness is an
    unmeasured component. Scale shape: ONE postings build serves both
    the scoring and the labels (checkpointed — two consumers), the
    query-term table broadcasts, per-(query, doc) scores rank inside a
    per-query window (bounded by matched docs per query), and the
    metric aggregation is one groupBy over ≤ |queries|·k rows.

    Cross-engine exactness: BM25 contributions are micro-quantized
    before summing (the bm25_topk discipline); the rank-discount table
    ``w_i = round(1e6 / log2(1+i))`` and its prefix sums (the IDCG
    ladder) are precomputed in PYTHON and embedded as literals in both
    the Spark plan and the oracle SQL, so the only transcendentals
    (ln in idf, log2 in the discounts) never cross engines — recall,
    MRR and nDCG are pure integer arithmetic: ``recall_ppm =
    1e6·hits div n_rel``, ``mrr_ppm = 1e6 div first_rel_rank``,
    ``ndcg_ppm = 1e6·DCG div IDCG``.

    Output: (query_id, n_rel, n_hits, recall_ppm, mrr_ppm, ndcg_ppm),
    one row per query, zeros when a query has no relevant documents."""
    import math

    spark = docs.sparkSession
    # rank-discount ladder + prefix sums, computed once driver-side so
    # both engines consume identical integer literals
    disc = [round(1_000_000 / math.log2(1 + i)) for i in range(1, k + 1)]
    idcg = [sum(disc[: i + 1]) for i in range(k)]

    post = postings(docs, id_col, text_col).localCheckpoint()
    dl = doc_lengths(docs, id_col, text_col)
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in queries.items() for t in ts],
        "query_id int, term string",
    )
    nterms = spark.createDataFrame(
        [(qid, len(ts)) for qid, ts in queries.items()],
        "query_id int, n_terms int",
    )
    matched = post.join(F.broadcast(qterms), "term")
    df_t = (
        post.join(
            F.broadcast(qterms.select("term").dropDuplicates(["term"])), "term"
        )
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    scored = (
        matched.join(F.broadcast(df_t), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * _bm25_weight(
        F.col("tf"), F.col("dl"), F.col("avgdl"), k1, b
    )
    per_doc = (
        scored.select(
            "query_id",
            "id",
            F.round(contrib * scale).cast("bigint").alias("c"),
        )
        .groupBy("query_id", "id")
        .agg(F.sum("c").alias("score_micro"))
    )
    # relevance label: the doc matched every term of the query (postings
    # rows are unique per (term, id), so a plain count is the distinct
    # term count)
    rel = (
        matched.groupBy("query_id", "id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_match"))
        .join(F.broadcast(nterms), "query_id")
        .filter(F.col("n_match") == F.col("n_terms"))
    )
    if rel_id_pred is not None:
        rel = rel.filter(rel_id_pred)
    rel = rel.select(
        "query_id", "id", F.lit(True).alias("is_rel")
    ).localCheckpoint()  # consumed by n_rel AND the ranked join

    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("id")
    )
    ranked = (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(rel, ["query_id", "id"], "left")
        .withColumn("is_rel", F.coalesce("is_rel", F.lit(False)))
    )
    disc_arr = F.array(*[F.lit(x).cast("bigint") for x in disc])
    idcg_arr = F.array(*[F.lit(x).cast("bigint") for x in idcg])
    n_rel_q = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel")
    )
    agg = (
        ranked.groupBy("query_id")
        .agg(
            F.sum(F.col("is_rel").cast("bigint")).alias("n_hits"),
            F.min(F.when(F.col("is_rel"), F.col("rank"))).alias("first_rel"),
            F.sum(
                F.when(
                    F.col("is_rel"), F.element_at(disc_arr, F.col("rank"))
                ).otherwise(F.lit(0).cast("bigint"))
            ).alias("dcg"),
        )
    )
    qids = spark.createDataFrame(
        [(qid,) for qid in queries], "query_id int"
    )
    out = (
        qids.join(n_rel_q, "query_id", "left")
        .join(agg, "query_id", "left")
        .na.fill({"n_rel": 0, "n_hits": 0, "dcg": 0})
    )
    idiv = lambda a, bb: F.call_function("div", a, bb)  # noqa: E731
    return out.select(
        "query_id",
        F.col("n_rel").cast("bigint"),
        F.col("n_hits").cast("bigint"),
        F.when(F.col("n_rel") > 0, idiv(F.lit(1_000_000) * F.col("n_hits"), F.col("n_rel")))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("recall_ppm"),
        F.when(
            F.col("first_rel").isNotNull(),
            idiv(F.lit(1_000_000), F.col("first_rel").cast("bigint")),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("mrr_ppm"),
        F.when(
            F.col("n_rel") > 0,
            idiv(
                F.lit(1_000_000) * F.col("dcg"),
                F.element_at(idcg_arr, F.least(F.col("n_rel"), F.lit(k)).cast("int")),
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ndcg_ppm"),
    )
