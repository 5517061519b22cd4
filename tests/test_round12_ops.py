"""Round-12 guard: set_similarity_join's partition normalization leaves
its output unchanged."""

from __future__ import annotations


def test_ppjoin_partition_normalization_identical_output(spark):
    """r12 optimization guard: set_similarity_join merges a fragmented
    input layout (more partitions than cores, tiny rows — the shape a
    multi-branch fixture union hands in) down to defaultParallelism
    before the postings passes. The merge is layout-only: output must
    be IDENTICAL pair-for-pair to the same corpus in one partition,
    and the gate must leave a big-row-count input's layout alone."""
    import random

    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        set_similarity_join,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    sets = [rng.sample(vocab, rng.randint(4, 12)) for _ in range(80)]
    sets[11] = sets[3] + ["pad"]
    rows = [(i, s) for i, s in enumerate(sets)]
    compact = spark.createDataFrame(rows, "id bigint, s array<string>")
    fragmented = compact.repartition(64)  # >> defaultParallelism
    key = lambda r: (r["id_a"], r["id_b"], r["inter"], r["union_n"])  # noqa: E731
    got_c = sorted(
        map(key, set_similarity_join(compact, "id", "s").collect())
    )
    got_f = sorted(
        map(key, set_similarity_join(fragmented, "id", "s").collect())
    )
    assert got_c == got_f and len(got_c) > 0
