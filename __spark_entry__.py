"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``neotree_data_pipeline_kedro_spark`` — this module
only adapts the registry (plans/queries.py) to the driver's interface.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from neotree_data_pipeline_kedro_spark.plans.queries import (  # noqa: E402
    ORACLE_SQL,
    QUERIES,
    flagship,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing rollup) on sf0.001."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ LLM
    extensions). Each callable takes (spark, sf_dir) → DataFrame."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twins, column-name aligned with queries().

    Exactly 14 keys are absent here — dd_minhash_lsh, dd_simhash,
    j3_tiered_greedy_assignment, ann_topk_lsh, ann_topk_ivf,
    ann_topk_ivf_kmeans, ann_topk_pq, ann_topk_ivfpq, ann_join_ivf,
    g1_pagerank, emb_pca_project, ta_bpe_train, ml_quality_probe,
    v_column_profile — because they are genuinely non-SQL-expressible
    (LSH banding / IVF / PQ probe internals, iterative Lloyd's /
    PageRank loops, greedy stateful assignment, power-iteration PCA,
    BPE merge training, an HLL++/KLL sketch profile). They take the
    driver's weaker rows-only check BY DESIGN and can never show
    hash-green in a driver window. Each is pinned by an
    independent pandas/numpy twin in tests/test_no_oracle_parity.py:
    exact-Jaccard soundness+completeness for the LSH/simhash family,
    brute-force hamming / quantized-cosine recomputation + recall@10
    floors for the ANN family, an independent greedy re-implementation
    for j3, a networkx-free power-iteration twin for pagerank, and
    sketch-vs-exact tolerance bands for the profile sketches.
    (tests/test_driver_contract.py pins this list to the live
    ``set(QUERIES) - set(ORACLE_SQL)`` so it cannot drift.)"""
    return dict(ORACLE_SQL)
