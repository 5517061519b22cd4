"""Parity tests for the four registry queries without a DuckDB oracle.

Each is checked against an INDEPENDENT twin (pandas/numpy re-implementation
of the semantics, not the engine's own helpers), so the driver's rows-only
check is backed by real verification:

- dd_minhash_lsh   : soundness (every emitted pair really has Jaccard >= 0.5,
                     recomputed in pure Python) + completeness (every pair
                     with exact Jaccard >= 0.8 is emitted — at 16 bands x 4
                     rows the S-curve makes a miss at s>=0.8 a ~1e-4 event,
                     and the hash seeds are fixed, so this is deterministic).
- dd_simhash       : exact equality with a brute-force twin — all pairs at
                     hamming <= max_hamming that share >= 1 of the 4 bands —
                     plus the band-trick guarantee (hamming < bands is always
                     emitted).
- ann_topk_lsh     : soundness (scores equal an independent numpy quantized
                     cosine) + recall@10 vs ann_topk_bruteforce above a
                     pinned floor.
- j3_tiered_greedy_assignment : exact equality with an independent pandas
                     greedy twin of merge_all.py:343-460.
"""

from __future__ import annotations

import re
from collections import OrderedDict

import numpy as np
import pandas as pd
import pytest

from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

from conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# independent twins (no engine imports)
# ---------------------------------------------------------------------------

def _norm(text: str) -> str:
    t = re.sub(r"[^a-z0-9\s]", "", (text or "").lower())
    return re.sub(r"\s+", " ", t).strip()


def _shingles(text: str, n: int = 3) -> frozenset[str]:
    toks = _norm(text).split(" ")
    if len(toks) < n:
        return frozenset({" ".join(toks)})
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def _docs(path: str = SF_SMOKE) -> pd.DataFrame:
    return pd.read_parquet(f"{path}/documents.parquet")


def _exact_pairs(docs: pd.DataFrame, threshold: float) -> set[tuple]:
    sh = {r.doc_id: _shingles(r.text) for r in docs.itertuples()}
    ids = sorted(sh)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if _jaccard(sh[a], sh[b]) >= threshold:
                out.add((a, b))
    return out


def test_minhash_lsh_parity(spark):
    got = QUERIES["dd_minhash_lsh"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    sh = {r.doc_id: _shingles(r.text) for r in docs.itertuples()}
    # soundness: every emitted pair has exact Jaccard >= 0.5 and the emitted
    # jaccard matches the recomputed one
    for r in got.itertuples():
        exact = _jaccard(sh[r.id_a], sh[r.id_b])
        assert exact >= 0.5, f"pair ({r.id_a},{r.id_b}) jaccard {exact} < 0.5"
        assert abs(exact - r.jaccard) < 1e-12
    # completeness: exact-Jaccard >= 0.8 pairs must all be candidates
    must = _exact_pairs(docs, 0.8)
    have = {(r.id_a, r.id_b) for r in got.itertuples()}
    missed = must - have
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_simhash_parity(spark):
    got = QUERIES["dd_simhash"](spark, SF_SMOKE).toPandas()
    docs = _docs()

    # signatures come from the engine's kernel (the twin verifies the
    # banding / candidate generation, not the hash function); banding,
    # hamming and filtering are recomputed independently in numpy.
    from neotree_data_pipeline_kedro_spark.operators.neardup import simhash_signatures

    sdf = simhash_signatures(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet"), "doc_id", "text"
    ).toPandas()
    sig = dict(zip(sdf.id, sdf.sh.astype(np.int64)))
    ids = sorted(sig)
    max_hamming, bands, width = 10, 4, 16
    mask = (1 << width) - 1

    def hamming(x: int, y: int) -> int:
        return bin((int(x) ^ int(y)) & ((1 << 64) - 1)).count("1")

    def shares_band(x: int, y: int) -> bool:
        return any(
            ((int(x) >> (b * width)) & mask) == ((int(y) >> (b * width)) & mask)
            for b in range(bands)
        )

    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if shares_band(sig[a], sig[b]) and hamming(sig[a], sig[b]) <= max_hamming:
                expected.add((a, b))

    have = {(r.id_a, r.id_b) for r in got.itertuples()}
    assert have == expected
    # reported hamming matches the twin's
    for r in got.itertuples():
        assert r.hamming == hamming(sig[r.id_a], sig[r.id_b])
    # band-trick guarantee: hamming < bands can never be missed
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if hamming(sig[a], sig[b]) < bands:
                assert (a, b) in have


def _quantized_cosine_np(a: np.ndarray, b: np.ndarray, scale: int = 1_000_000) -> float:
    qa = np.round(a.astype(np.float64) * scale).astype(np.int64)
    qb = np.round(b.astype(np.float64) * scale).astype(np.int64)
    dot = float(int(np.dot(qa, qb)))
    na = float(int(np.dot(qa, qa)))
    nb = float(int(np.dot(qb, qb)))
    return dot / (np.sqrt(na) * np.sqrt(nb))


def test_ann_lsh_soundness_and_recall(spark):
    lsh = QUERIES["ann_topk_lsh"](spark, SF_SMOKE).toPandas()
    bf = QUERIES["ann_topk_bruteforce"](spark, SF_SMOKE).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vec = {r.vec_id: np.asarray(r.embedding) for r in emb.itertuples()}

    # soundness: each LSH hit's score equals the independent numpy cosine
    for r in lsh.itertuples():
        expect = _quantized_cosine_np(vec[r.query_id], vec[r.neighbor_id])
        assert abs(r.cosine_sim - expect) < 1e-12

    # recall@10 vs exact brute force: the 512-bit signature prefilter at
    # m = max(25, 5% of corpus) measures 0.80 on this sf0.001 corpus
    # (0.92 at sf0.01, 0.96 at sf0.1) — floor pinned with margin
    bf_sets = bf.groupby("query_id")["neighbor_id"].apply(set)
    lsh_sets = lsh.groupby("query_id")["neighbor_id"].apply(set)
    hits = total = 0
    for qid, want in bf_sets.items():
        total += len(want)
        hits += len(want & lsh_sets.get(qid, set()))
    assert total > 0
    recall = hits / total
    assert recall >= 0.7, f"recall@10 {recall:.2f} below floor"


def test_kmeans_fit_matches_numpy_twin(spark):
    """Distributed Lloyd's (kmeans_fit) vs an independent in-memory numpy
    twin run from the same init: centroids must agree to float tolerance,
    and inertia must not increase across iterations. The operator's only
    Spark-side work is the per-batch assignment+partial-sum pass, so twin
    agreement pins both the GEMM assignment and the partial-sum reduce."""
    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.operators.similarity import kmeans_fit

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": emb.vec_id, "embedding": list(X)})
    )
    k, iters = 16, 4

    got = kmeans_fit(df, "vec_id", "embedding", k=k, max_iter=iters)
    C = np.vstack(list(got.centroid_vec))

    # twin: same init (the operator's own deterministic sample expression),
    # then pure-numpy Lloyd's
    init = (
        df.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(k)
        .orderBy("vec_id")
        .toPandas()
    )
    T_ = np.vstack([np.asarray(v, dtype=np.float64) for v in init.embedding])
    inertias = []
    for _ in range(iters):
        d = (T_ * T_).sum(1)[None, :] - 2.0 * X @ T_.T
        cell = d.argmin(1)
        inertias.append(float((d[np.arange(len(X)), cell] + (X * X).sum(1)).sum()))
        new = T_.copy()
        for c in range(k):
            m = cell == c
            if m.sum():
                new[c] = X[m].mean(0)
        T_ = new
    assert np.allclose(C, T_, atol=1e-8), float(np.abs(C - T_).max())
    assert all(b <= a + 1e-9 for a, b in zip(inertias, inertias[1:]))


def test_ann_ivf_soundness_and_recall(spark):
    ivf = QUERIES["ann_topk_ivf"](spark, SF_SMOKE).toPandas()
    bf = QUERIES["ann_topk_bruteforce"](spark, SF_SMOKE).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vec = {r.vec_id: np.asarray(r.embedding) for r in emb.itertuples()}

    # soundness: every IVF hit's score equals the independent numpy cosine
    for r in ivf.itertuples():
        expect = _quantized_cosine_np(vec[r.query_id], vec[r.neighbor_id])
        assert abs(r.cosine_sim - expect) < 1e-12

    # recall@10 vs exact brute force (nprobe=4 over ~1/23 pseudo-centroids)
    bf_sets = bf.groupby("query_id")["neighbor_id"].apply(set)
    ivf_sets = ivf.groupby("query_id")["neighbor_id"].apply(set)
    hits = total = 0
    for qid, want in bf_sets.items():
        total += len(want)
        hits += len(want & ivf_sets.get(qid, set()))
    assert total > 0
    recall = hits / total
    assert recall >= 0.5, f"IVF recall@10 {recall:.2f} below floor"


def test_ann_ivf_kmeans_soundness_and_recall(spark):
    """The kmeans-built IVF registry entry: scores must be exact quantized
    cosines (soundness) and recall@10 vs brute force must clear the same
    floor as the hash-sample fixture — real Lloyd's cells can only tighten
    the partition, not loosen it."""
    ivf = QUERIES["ann_topk_ivf_kmeans"](spark, SF_SMOKE).toPandas()
    bf = QUERIES["ann_topk_bruteforce"](spark, SF_SMOKE).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vec = {r.vec_id: np.asarray(r.embedding) for r in emb.itertuples()}

    for r in ivf.itertuples():
        expect = _quantized_cosine_np(vec[r.query_id], vec[r.neighbor_id])
        assert abs(r.cosine_sim - expect) < 1e-12

    bf_sets = bf.groupby("query_id")["neighbor_id"].apply(set)
    ivf_sets = ivf.groupby("query_id")["neighbor_id"].apply(set)
    hits = total = 0
    for qid, want in bf_sets.items():
        total += len(want)
        hits += len(want & ivf_sets.get(qid, set()))
    assert total > 0
    recall = hits / total
    assert recall >= 0.5, f"kmeans-IVF recall@10 {recall:.2f} below floor"


def _greedy_twin(adm: pd.DataFrame, dis: pd.DataFrame) -> set[tuple]:
    """Independent re-implementation of the reference's greedy tiered
    matching (merge_all.py:343-470): per (uid, facility), discharges in
    (ts, rid) order consume admissions; tiers unique-OFC -> unique-BW ->
    datetime fallback (always assigns when a candidate is free, always
    ``ambiguous``); deterministic rid tiebreaks."""
    out = set()
    adm_groups = dict(tuple(adm.groupby(["uid", "facility"], sort=False)))
    for key, d_g in dis.groupby(["uid", "facility"], sort=False):
        a_g = adm_groups.get(key)
        free: OrderedDict = OrderedDict()
        attrs = {}
        if a_g is not None:
            for r in a_g.sort_values(["ts", "admission_rid"]).itertuples():
                free[r.admission_rid] = r.ts
                attrs[r.admission_rid] = (r.ofc, r.bw)
        for d in d_g.sort_values(["ts", "discharge_rid"]).itertuples():
            cand = list(free)
            status, pick = "unmatched_discharge", None
            if cand:
                ofc_eq = [
                    r for r in cand
                    if pd.notna(d.ofc) and pd.notna(attrs[r][0]) and attrs[r][0] == d.ofc
                ]
                bw_eq = [
                    r for r in cand
                    if pd.notna(d.bw) and pd.notna(attrs[r][1]) and attrs[r][1] == d.bw
                ]
                if len(ofc_eq) == 1:
                    pick, status = ofc_eq[0], "matched"
                elif len(bw_eq) == 1:
                    pick = bw_eq[0]
                    status = "ambiguous" if len(ofc_eq) > 1 else "matched"
                else:
                    best = None
                    for r in cand:
                        if pd.isna(free[r]) or pd.isna(d.ts):
                            continue
                        delta = (d.ts - free[r]).total_seconds()
                        if delta >= 0 and (
                            best is None
                            or delta < best[0]
                            or (delta == best[0] and r < best[1])
                        ):
                            best = (delta, r)
                    if best is not None:
                        pick = best[1]
                    else:
                        with_ts = sorted(
                            [r for r in cand if pd.notna(free[r])],
                            key=lambda r: (free[r], r),
                        )
                        pick = with_ts[0] if with_ts else min(cand)
                    status = "ambiguous"
            if pick is not None:
                free.pop(pick)
            out.add((d.discharge_rid, pick, status))
    return out


def test_tiered_greedy_assignment_parity(spark):
    got = QUERIES["j3_tiered_greedy_assignment"](spark, SF_SMOKE).toPandas()

    # rebuild the query's admission/discharge shaping straight from parquet
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    base = pd.DataFrame(
        {
            "uid": o.o_custkey.astype(str),
            "facility": (o.o_custkey % 5).astype(str),
            "rid": o.o_orderkey,
            "ts": o.o_orderdate,
            "ofc": (o.o_orderkey % 20).astype(float),
            "bw": (o.o_orderkey % 35).astype(float),
            "status": o.o_orderstatus,
        }
    )
    adm = base[base.status == "O"].rename(columns={"rid": "admission_rid"})
    dis = base[base.status == "F"].rename(columns={"rid": "discharge_rid"})

    expected = _greedy_twin(adm, dis)
    have = {
        (r.discharge_rid, None if pd.isna(r.admission_rid) else int(r.admission_rid), r.match_status)
        for r in got.itertuples()
    }
    assert have == expected


def test_ngram_jaccard_length_blocking_recall(spark):
    """The no-block-col length-bucket path must find EXACTLY the pairs an
    unblocked all-pairs Jaccard finds (bucket recall = 1.0 by construction:
    each doc emits every bucket in [floor(t*nsh/w), floor(nsh/w)])."""
    from neotree_data_pipeline_kedro_spark.operators.neardup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for threshold in (0.3, 0.5, 0.8):
        got = ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=threshold, length_bucket=8
        ).toPandas()
        pdocs = _docs()
        sh = {r.doc_id: _shingles(r.text) for r in pdocs.itertuples()}
        ids = sorted(sh)
        expected = {
            (a, b): _jaccard(sh[a], sh[b])
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if _jaccard(sh[a], sh[b]) >= threshold
        }
        have = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
        assert set(have) == set(expected), (
            f"t={threshold}: missed {set(expected) - set(have)}, "
            f"extra {set(have) - set(expected)}"
        )
        for k, v in expected.items():
            assert abs(have[k] - v) < 1e-12


def test_ngram_jaccard_small_block_guard(spark):
    """A coarse block key must be refused by default (within-block all-pairs
    is quadratic with parallelism bounded by block count); allow_small_blocks
    opts in; the cache registry holds at most one persisted subtree."""
    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        _NGRAM_CACHE,
        ngram_jaccard_pairs,
        release_ngram_cache,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    one_block = docs.withColumn("blk", F.lit("all"))
    with pytest.raises(ValueError, match="rows/block"):
        ngram_jaccard_pairs(
            one_block, "doc_id", "text", block_col="blk", max_block_rows=10
        )
    # explicit opt-in runs (and still verifies exactly)
    got = ngram_jaccard_pairs(
        one_block, "doc_id", "text", threshold=0.5, block_col="blk",
        max_block_rows=10, allow_small_blocks=True,
    )
    assert got.count() >= 0
    assert len(_NGRAM_CACHE) == 1
    # a second call releases the first call's cache before caching its own
    ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).count()
    assert len(_NGRAM_CACHE) == 1
    release_ngram_cache()
    assert not _NGRAM_CACHE


def test_semantic_dedup_pipeline_twin(spark):
    """dd_semantic_dedup: engine components must refine the brute-force
    Jaccard>=0.5 component structure (engine edges are a verified subset),
    high-similarity pairs must co-cluster, and the keep-flags must be
    exactly 'minimum id per component'."""
    got = QUERIES["dd_semantic_dedup"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    assert len(got) == len(docs)

    # exact >= 0.5 components via union-find on brute-force pairs
    parent = {i: i for i in docs.doc_id}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _exact_pairs(docs, 0.5):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exact_comp = {i: find(i) for i in docs.doc_id}

    eng = dict(zip(got.doc_id, got.component))
    # refinement: same engine component => same exact component
    by_eng = {}
    for i, c in eng.items():
        by_eng.setdefault(c, []).append(i)
    for c, members in by_eng.items():
        assert len({exact_comp[m] for m in members}) == 1, (
            f"engine component {c} spans distinct exact components"
        )
    # completeness: jaccard >= 0.8 pairs must share an engine component
    for a, b in _exact_pairs(docs, 0.8):
        assert eng[a] == eng[b], f"high-sim pair ({a},{b}) split across components"
    # keep-flag invariants
    for c, members in by_eng.items():
        assert c == min(members)
        flags = dict(zip(got.doc_id, got.is_canonical))
        assert flags[c] and all(not flags[m] for m in members if m != c)
    sizes = dict(zip(got.doc_id, got.component_size))
    for c, members in by_eng.items():
        assert all(sizes[m] == len(members) for m in members)


def test_semantic_dedup_planted_duplicates(spark):
    """On a corpus with unambiguous planted near-dup clusters (j>=0.9 in,
    j<0.2 out), the pipeline must recover the clusters exactly."""
    from neotree_data_pipeline_kedro_spark.operators.neardup import semantic_dedup

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
        "one two three four five six seven eight nine ten eleven twelve",
        "red orange yellow green blue indigo violet crimson amber teal navy plum",
    ]
    rows = []
    did = 0
    want = {}
    for ci, text in enumerate(base):
        for variant in range(3):
            # tiny suffix tweak: near-identical shingle sets within a cluster
            t = text if variant == 0 else text + f" tail{variant}"
            rows.append((did, t))
            want[did] = ci * 3  # min id of the cluster
            did += 1
    # far-apart singletons
    for k in range(5):
        rows.append((did, f"unique{k} solitary{k} document{k} text{k} body{k} words{k} distinct{k} terms{k}"))
        want[did] = did
        did += 1
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = semantic_dedup(df, "doc_id", "text", threshold=0.5).toPandas()
    got = dict(zip(out.id, out.comp))
    assert got == want


def test_contamination_report_planted(spark):
    """A corpus doc that embeds a benchmark item verbatim must be flagged
    with containment 1.0; an exact copy must also set is_exact; unrelated
    docs must not appear."""
    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        contamination_report,
    )

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [
            (1, f"intro words here {bench_text} and a long tail of filler text"),
            (2, bench_text),  # verbatim copy
            (3, "completely unrelated content about spark shuffle partitions"),
        ],
        "doc_id bigint, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, bench_text)], "doc_id bigint, text string"
    )
    out = {
        r.corpus_id: r
        for r in contamination_report(
            corpus, benchmark, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1].containment == 1.0 and not out[1].is_exact
    assert out[2].containment == 1.0 and out[2].is_exact
    assert all(r.benchmark_id == 100 for r in out.values())


def test_ann_join_ivf_soundness_and_recall(spark):
    """The corpus↔corpus ANN join: every emitted score must equal the
    independent numpy quantized cosine, every query must surface itself
    (cosine 1.0 is always in some probed cell — its own), and recall@5 vs
    an all-pairs numpy brute force must clear the IVF floor."""
    out = QUERIES["ann_join_ivf"](spark, SF_SMOKE).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vec = {r.vec_id: np.asarray(r.embedding) for r in emb.itertuples()}

    for r in out.itertuples():
        expect = _quantized_cosine_np(vec[r.query_id], vec[r.neighbor_id])
        assert abs(r.cosine_sim - expect) < 1e-12

    ids = sorted(vec)
    M = np.vstack([np.round(np.asarray(vec[i], dtype=np.float64) * 1_000_000)
                   for i in ids])
    norms = np.sqrt((M * M).sum(1))
    sims = (M @ M.T) / np.outer(norms, norms)
    got = out.groupby("query_id")["neighbor_id"].apply(set)
    hits = total = 0
    for qi, q in enumerate(ids):
        order = np.lexsort((ids, -sims[qi]))
        want = {ids[j] for j in order[:5]}
        have = got.get(q, set())
        assert q in have, f"query {q} did not retrieve itself"
        total += len(want)
        hits += len(want & have)
    recall = hits / total
    assert recall >= 0.5, f"ANN-join recall@5 {recall:.2f} below floor"


def test_ann_pq_soundness_and_recall(spark):
    """PQ ANN: rerank scores must equal the independent numpy quantized
    cosine, every query retrieves itself (its own code is its nearest by
    construction after rerank), and recall@10 vs brute force clears 0.7 —
    well above the IVF floor because the exact rerank repairs ADC error."""
    out = QUERIES["ann_topk_pq"](spark, SF_SMOKE).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vec = {r.vec_id: np.asarray(r.embedding) for r in emb.itertuples()}

    for r in out.itertuples():
        expect = _quantized_cosine_np(vec[r.query_id], vec[r.neighbor_id])
        assert abs(r.cosine_sim - expect) < 1e-12

    ids = sorted(vec)
    M = np.vstack([np.round(np.asarray(vec[i], dtype=np.float64) * 1_000_000)
                   for i in ids])
    norms = np.sqrt((M * M).sum(1))
    sims = (M @ M.T) / np.outer(norms, norms)
    got = out.groupby("query_id")["neighbor_id"].apply(set)
    hits = total = 0
    for qi, q in enumerate(ids):
        if q % 100:
            continue
        assert q in got.get(q, set()), f"query {q} did not retrieve itself"
        order = np.lexsort((ids, -sims[qi]))
        want = {ids[j] for j in order[:10]}
        total += len(want)
        hits += len(want & got.get(q, set()))
    recall = hits / total
    assert recall >= 0.7, f"PQ recall@10 {recall:.2f} below floor"


def test_ann_ivfpq_soundness_and_recall(spark):
    """IVFPQ: rerank scores exact, recall@10 vs brute force above the IVF
    floor (cell pruning can drop true neighbors the PQ rerank can't
    recover, so the floor matches IVF's, not flat PQ's)."""
    out = QUERIES["ann_topk_ivfpq"](spark, SF_SMOKE).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vec = {r.vec_id: np.asarray(r.embedding) for r in emb.itertuples()}

    for r in out.itertuples():
        expect = _quantized_cosine_np(vec[r.query_id], vec[r.neighbor_id])
        assert abs(r.cosine_sim - expect) < 1e-12

    ids = sorted(vec)
    M = np.vstack([np.round(np.asarray(vec[i], dtype=np.float64) * 1_000_000)
                   for i in ids])
    norms = np.sqrt((M * M).sum(1))
    sims = (M @ M.T) / np.outer(norms, norms)
    got = out.groupby("query_id")["neighbor_id"].apply(set)
    hits = total = 0
    for qi, q in enumerate(ids):
        if q % 100:
            continue
        order = np.lexsort((ids, -sims[qi]))
        want = {ids[j] for j in order[:10]}
        total += len(want)
        hits += len(want & got.get(q, set()))
    recall = hits / total
    assert recall >= 0.5, f"IVFPQ recall@10 {recall:.2f} below floor"


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank vs an independent dense numpy power iteration with the
    same damping/dangling handling, on a small directed graph with a
    dangling node and a hub."""
    import numpy as np

    from neotree_data_pipeline_kedro_spark.operators.components import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # node 4 via dst only
    edges.append((4, 0))
    # make node 5 dangling (appears only as a destination)
    edges.append((1, 5))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=20).collect()}

    n = 6
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    deg = A.sum(axis=1)
    r = np.full(n, 1.0 / n)
    d_f = 0.85
    for _ in range(20):
        inflow = np.zeros(n)
        for s in range(n):
            if deg[s]:
                inflow += r[s] * A[s] / deg[s]
        dangling = r[deg == 0].sum()
        r = (1 - d_f) / n + d_f * dangling / n + d_f * inflow
    for node in range(n):
        assert abs(got[node] - r[node]) < 1e-9, (node, got[node], r[node])
    assert abs(sum(got.values()) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# w28_dtw_to_centroid : exact equality with an independent pure-Python
# banded-DTW twin (dict-DP, no numpy, no engine imports) on the sf0.001
# events fixture — same quantization, same centroid, same band policy.
# ---------------------------------------------------------------------------

def _py_banded_dtw(x: list[int], r: list[int], band: int):
    n, m = len(x), len(r)
    w = max(band, -(-m // max(n, 1)) + 1)
    INF = float("inf")
    prev = {0: 0}
    for i in range(1, n + 1):
        cur = {}
        c = (i * m) // n
        for j in range(max(1, c - w), min(m, c + w) + 1):
            best = min(
                prev.get(j, INF), prev.get(j - 1, INF), cur.get(j - 1, INF)
            )
            if best < INF:
                cur[j] = best + abs(x[i - 1] - r[j - 1])
        prev = cur
    return prev.get(m)


def test_dtw_to_centroid_matches_python_twin(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ev["milli"] = (ev["value"] * 1000).round().astype("int64")
    daily = (
        ev.groupby(["user_id", "day"], as_index=False)["milli"]
        .sum()
        .rename(columns={"milli": "day_milli"})
    )
    cent = daily.groupby("day")["day_milli"].agg(["sum", "count"]).sort_index()
    ref = [int(s) // int(c) for s, c in zip(cent["sum"], cent["count"])]
    want = {}
    for uid, grp in daily.groupby("user_id"):
        xs = [int(v) for v in grp.sort_values("day")["day_milli"]]
        want[uid] = (len(xs), _py_banded_dtw(xs, ref, band=7))

    got = {
        r["user_id"]: (r["n_points"], r["dtw_milli"])
        for r in QUERIES["w28_dtw_to_centroid"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_dtw_zero_for_identical_series(spark):
    """DTW of a series against itself is 0; a constant shift of k over n
    aligned points costs at most k*n (elasticity can only help)."""
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        dtw_to_reference,
    )

    ref = [10, 20, 40, 30, 50, 20, 10]
    rows = [(1, i, v) for i, v in enumerate(ref)]
    rows += [(2, i, v + 5) for i, v in enumerate(ref)]
    df = spark.createDataFrame(rows, "uid bigint, t int, v long")
    out = {
        r["uid"]: r["dtw_cost"]
        for r in dtw_to_reference(df, "uid", "t", "v", ref, band=3).collect()
    }
    assert out[1] == 0
    assert 0 < out[2] <= 5 * len(ref)


# ---------------------------------------------------------------------------
# emb_pca_project : independent numpy full-PCA twin (same quantization path,
# separate code) + the spectral properties that make a PCA a PCA.
# ---------------------------------------------------------------------------

def _np_pca_twin(path: str, k: int = 2, scale: int = 1_000):
    emb = pd.read_parquet(f"{path}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    X = np.stack(emb["embedding"].to_numpy()).astype("float64")
    Q = np.round(X * scale)
    mu = Q.mean(axis=0)
    C = (Q.T @ Q) / len(Q) - np.outer(mu, mu)
    _vals, vecs = np.linalg.eigh(C)
    scores = {}
    for c in range(1, k + 1):
        v = vecs[:, -c].copy()
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        scores[c] = (Q - mu) @ v / scale
    return ids, scores


def test_pca_project_matches_numpy_twin(spark):
    got = (
        QUERIES["emb_pca_project"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ids, scores = _np_pca_twin(SF_SMOKE)
    order = np.argsort(ids)
    # micro-rounded scores agree within 1 micro-unit (double assoc. slack)
    for c in (1, 2):
        want = np.round(scores[c][order] * 1_000_000)
        assert np.abs(got[f"pc{c}_micro"].to_numpy() - want).max() <= 1
    # spectral properties: pc1 variance >= pc2 variance > 0, and the two
    # score vectors are (near-)uncorrelated
    v1 = got["pc1_micro"].to_numpy(dtype="float64")
    v2 = got["pc2_micro"].to_numpy(dtype="float64")
    assert v1.var() >= v2.var() > 0
    r = np.corrcoef(v1, v2)[0, 1]
    assert abs(r) < 0.05
