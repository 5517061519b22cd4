"""Full-text search operators: postings vs a driver-side counter,
BM25 ranking sanity, and the top-k plan contract."""

from __future__ import annotations

import contextlib
import io
import math
from collections import Counter

from neotree_data_pipeline_kedro_spark.operators.search import (
    bm25_topk,
    doc_lengths,
    postings,
)

DOCS = [
    (1, "join join join hash"),
    (2, "scan merge window"),
    (3, "the quick brown fox"),
    (4, ""),
    (5, "hash hash join window scan scan scan"),
    (6, None),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_postings_match_counter(spark):
    got = {
        (r["term"], r["id"]): r["tf"]
        for r in postings(_df(spark), "doc_id", "text").collect()
    }
    want = {}
    for i, t in DOCS:
        for term, n in Counter((t or "").split()).items():
            want[(term, i)] = n
    assert got == want


def test_doc_lengths(spark):
    got = {r["id"]: r["dl"] for r in doc_lengths(_df(spark), "doc_id", "text").collect()}
    assert got == {1: 4, 2: 3, 3: 4, 4: 0, 5: 7, 6: 0}


def test_bm25_ranks_matching_docs_first(spark):
    out = bm25_topk(
        _df(spark), "doc_id", "text", ["hash", "join", "scan"], k=10
    ).collect()
    ids = [r["id"] for r in out]
    # only docs containing a query term appear, best match first
    assert set(ids) == {1, 2, 5}
    assert ids[0] == 5  # most query-term mass
    assert all(out[i]["score_micro"] >= out[i + 1]["score_micro"] for i in range(len(out) - 1))
    # score is exactly micro / 1e6
    for r in out:
        assert math.isclose(r["score"], r["score_micro"] / 1e6, rel_tol=0)


def test_bm25_topk_plan_contract(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    from conftest import SF_SMOKE

    df = QUERIES["ta_bm25_topk"](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # df_t and corpus stats ride broadcasts; top-k is TakeOrdered, never a
    # global Sort; partial aggregation absorbs the Zipf term key map-side
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan


def test_contamination_broadcasts_benchmark_index(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    from conftest import SF_SMOKE

    df = QUERIES["dd_contamination_check"](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the benchmark's inverted shingle index must ride a broadcast — the
    # corpus side never shuffles its shingles
    assert "BroadcastHashJoin" in plan


def test_bm25_retrieval_eval_hand_metrics(spark):
    """Tiny corpus with hand-derivable metrics: query 1's relevant set
    and the BM25 ranking are both small enough to check recall/MRR/nDCG
    against pencil-and-paper integer arithmetic."""
    import math

    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.operators.search import (
        bm25_retrieval_eval,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),       # rel to q1 (has both terms)
            (2, "apple apple apple"),        # apple only
            (3, "banana banana"),            # banana only
            (4, "apple banana cherry"),      # rel to q1
            (5, "cherry cherry"),            # neither
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["query_id"]: r
        for r in bm25_retrieval_eval(
            docs, "doc_id", "text", {1: ["apple", "banana"], 2: ["zz"]}, k=3
        ).collect()
    }
    q1 = out[1]
    assert q1["n_rel"] == 2  # docs 1 and 4 contain both terms
    # docs 1 and 4 score highest (both terms contribute); both are in
    # the top-3, so recall = 1.0 and the first relevant doc is rank 1
    assert q1["n_hits"] == 2
    assert q1["recall_ppm"] == 1_000_000
    assert q1["mrr_ppm"] == 1_000_000
    disc = [round(1_000_000 / math.log2(1 + i)) for i in range(1, 4)]
    # ranks of the two relevant docs must be 1 and 2 (only they match
    # both terms; single-term docs score one contribution)
    dcg = disc[0] + disc[1]
    idcg = disc[0] + disc[1]
    assert q1["ndcg_ppm"] == (1_000_000 * dcg) // idcg == 1_000_000
    # query 2 matches nothing: the all-zero row, not a missing row
    q2 = out[2]
    assert (
        q2["n_rel"], q2["n_hits"], q2["recall_ppm"], q2["mrr_ppm"],
        q2["ndcg_ppm"],
    ) == (0, 0, 0, 0, 0)


def test_bm25_retrieval_eval_rel_pred_subsets_labels(spark):
    """rel_id_pred models the judged-subset reality: labels shrink, the
    ranking does not, so recall can only count judged hits."""
    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.operators.search import (
        bm25_retrieval_eval,
    )

    docs = spark.createDataFrame(
        [(i, "apple banana") for i in range(1, 7)],
        "doc_id bigint, text string",
    )
    out = bm25_retrieval_eval(
        docs,
        "doc_id",
        "text",
        {1: ["apple"]},
        k=6,
        rel_id_pred=F.col("id") % 2 == 0,
    ).collect()[0]
    assert out["n_rel"] == 3  # only even ids are judged relevant
    assert out["n_hits"] == 3  # all six retrieved, three judged
    assert out["recall_ppm"] == 1_000_000
    # identical scores tie-break by id: first judged doc sits at rank 2
    assert out["mrr_ppm"] == 500_000
