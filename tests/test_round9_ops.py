"""Round-9 session ops: interval-overlap join, compaction bin packing,
refusal/code-quality gates — unit semantics beyond the registry oracle
rows."""
from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# ------------------------------------------- interval_overlap_join
def _iojoin(spark, a_rows, b_rows, bucket_us=10):
    from neotree_data_pipeline_kedro_spark.operators.joins import (
        interval_overlap_join,
    )

    a = spark.createDataFrame(
        a_rows, "k bigint, a_id bigint, a_s bigint, a_e bigint"
    )
    b = spark.createDataFrame(
        b_rows, "k bigint, b_id bigint, b_s bigint, b_e bigint"
    )
    return interval_overlap_join(
        a, b, ["k"], "a_s", "a_e", "b_s", "b_e", bucket_us
    )


def test_interval_overlap_exact_pairs_and_lengths(spark):
    a = [(1, 10, 0, 100), (1, 11, 200, 250), (2, 12, 0, 50)]
    b = [
        (1, 20, 90, 110),   # overlaps a10 by 10
        (1, 21, 100, 150),  # touches a10 end-exclusive: NO overlap
        (1, 22, 240, 260),  # overlaps a11 by 10
        (2, 23, 50, 60),    # touches a12 end-exclusive: NO overlap
        (3, 24, 0, 100),    # key mismatch
    ]
    got = {
        (r["a_id"], r["b_id"]): r["overlap_us"]
        for r in _iojoin(spark, a, b).collect()
    }
    assert got == {(10, 20): 10, (11, 22): 10}


def test_interval_overlap_exactly_once_across_buckets(spark):
    # both intervals span MANY buckets; the pair must appear exactly once
    a = [(1, 1, 0, 95)]
    b = [(1, 2, 5, 90)]
    rows = _iojoin(spark, a, b, bucket_us=10).collect()
    assert len(rows) == 1 and rows[0]["overlap_us"] == 85


def test_interval_overlap_rejects_shared_columns_and_zero_len(spark):
    import pytest

    from neotree_data_pipeline_kedro_spark.operators.joins import (
        interval_overlap_join,
    )

    a = spark.createDataFrame([(1, 0, 10)], "k bigint, s bigint, e bigint")
    with pytest.raises(ValueError, match="overlapping non-key"):
        interval_overlap_join(a, a, ["k"], "s", "e", "s", "e", 10)
    # zero-length interval matches nothing (end-exclusive contract)
    b = spark.createDataFrame(
        [(1, 9, 5, 5)], "k bigint, b_id bigint, b_s bigint, b_e bigint"
    )
    a2 = spark.createDataFrame(
        [(1, 8, 0, 10)], "k bigint, a_id bigint, a_s bigint, a_e bigint"
    )
    assert (
        interval_overlap_join(
            a2, b, ["k"], "a_s", "a_e", "b_s", "b_e", 10
        ).count()
        == 0
    )


# ------------------------------------------------ compaction_bins
def test_compaction_bins_next_fit_invariants(spark):
    from neotree_data_pipeline_kedro_spark.sources.warehouse import (
        compaction_bins,
    )

    rows = [(i, 30) for i in range(20)] + [(100, 500)] + [
        (200 + i, 30) for i in range(10)
    ]
    files = spark.createDataFrame(rows, "file_id bigint, bytes bigint")
    out = compaction_bins(files, ["file_id"], "bytes", 100).collect()
    by_file = {r["file_id"]: r["bin_id"] for r in out}
    # order-preserving: bin ids are non-decreasing in file order
    ordered = [by_file[k] for k in sorted(by_file)]
    assert ordered == sorted(ordered)
    # exclusive-prefix rule: file 0..2 (cum before 0,30,60) -> bin 0,
    # file 3 (before=90) -> bin 0, file 4 (before=120) -> bin 1
    assert ordered[:5] == [0, 0, 0, 0, 1]
    # the oversized 500-byte file occupies bins alone downstream of it:
    # everything after it starts at a strictly larger bin
    big_bin = by_file[100]
    assert all(by_file[200 + i] > big_bin for i in range(10))


# ------------------------------------------------- refusal_detect
def test_refusal_ladder(spark):
    from neotree_data_pipeline_kedro_spark.functions.text import (
        refusal_detect,
    )

    cases = [
        (1, "I'm sorry, but I cannot assist with that."),
        (2, "AS AN AI LANGUAGE MODEL I must note..."),
        (3, "My knowledge cutoff is 2025."),
        (4, "perfectly normal document text"),
        (5, "I must decline this request."),
    ]
    df = spark.createDataFrame(cases, "id int, t string")
    got = {
        r["id"]: r["lab"]
        for r in df.select(
            "id", refusal_detect("t").alias("lab")
        ).collect()
    }
    assert got == {
        1: "refusal",
        2: "ai_disclosure",
        3: "ai_disclosure",
        4: "clean",
        5: "refusal",
    }


# ------------------------------------------------ code_line_stats
def test_code_line_stats_exact(spark):
    from neotree_data_pipeline_kedro_spark.functions.text import (
        code_line_stats,
    )

    df = spark.createDataFrame(
        [(1, "abc\nde fg!\nx")], "id int, t string"
    )
    r = df.select(code_line_stats("t").alias("s")).select("s.*").collect()[0]
    assert r["n_lines"] == 3
    assert r["max_line_len"] == 6
    assert r["body_chars"] == len("abc") + len("de fg!") + len("x")
    assert r["alnum_chars"] == 8  # a b c d e f g x


# ------------------------------------------------ SPRT continue branch
def test_sprt_continue_branch_and_first_crossing(spark):
    """A walk that never reaches either boundary must report 'continue'
    with the full-sample LLR — replicate the registry query's algebra on
    a tiny frame where the boundary math is hand-checkable."""
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        global_prefix_scan,
    )

    rows = [("g", i, 287682 if i % 2 == 0 else -154151) for i in range(10)]
    df = spark.createDataFrame(rows, "grp string, k bigint, llr bigint")
    scan = global_prefix_scan(df, ["grp", "k"], "llr",
                              rn_col="rn", cum_col="cum")
    mx = max(abs(r["cum"]) for r in scan.collect())
    assert mx < 2_944_439  # never crosses -> the registry query would
    # report continue; the crossing filter returns nothing
    crossed = scan.filter(
        (F.col("cum") >= 2_944_439) | (F.col("cum") <= -2_944_439)
    )
    assert crossed.count() == 0


# --------------------------------------------- seasonal decompose
def test_seasonal_decompose_zero_remainder_on_pure_signal(spark):
    """A series that is exactly trend+seasonal (constant level, additive
    monthly offsets summing over the MA window to a constant) must
    decompose with near-zero remainder mass; here a CONSTANT series: the
    13-month MA equals the level, detrended is 0, seasonal 0."""
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    out = QUERIES["w39_seasonal_decompose"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 60  # 5 priorities x 12 months-of-year
    for r in out:
        # decomposition identity: every month is attributed; remainder
        # mass is bounded by the series' own variation (sanity: finite,
        # non-negative, and n_months covers the ~80-month span)
        assert r["n_months"] >= 5 and r["abs_remainder_cents"] >= 0


# --------------------------------------------- shot boundary detection
@pytest.mark.slow  # r13: heavy tail, builder-run via -m slow
def test_shot_boundaries_brightness_invariant_cut_only(spark):
    """One planted pattern flip must be the ONLY boundary even when every
    frame carries a different uniform brightness shift; a clip with no
    flip must produce no boundaries at all."""
    import numpy as np

    from neotree_data_pipeline_kedro_spark.functions.png import encode_video
    from neotree_data_pipeline_kedro_spark.operators.multimodal import (
        shot_boundaries,
    )

    def frame(ascending, jitter):
        ramp = [0, 80, 160, 240] if ascending else [240, 160, 80, 0]
        px = np.array([r + jitter for r in ramp], dtype=np.uint8)
        px = px.reshape(2, 2)
        return np.stack([px, px, px], axis=2)

    cut_clip = encode_video(
        [frame(f < 3, f * 2) for f in range(6)], frame_ms=40
    )
    flat_clip = encode_video(
        [frame(True, f * 2) for f in range(6)], frame_ms=40
    )
    df = spark.createDataFrame(
        [(1, bytearray(cut_clip)), (2, bytearray(flat_clip))],
        "id bigint, vid binary",
    )
    rows = shot_boundaries(df, "id", "vid", every_ms=40).collect()
    assert [(r["id"], r["frame_index"], r["ts_ms"], r["hamming"])
            for r in rows] == [(1, 3, 120, 64)]


# --------------------------------------------- multipass blocking
def test_multipass_blocking_recall_union(spark):
    """A pair broken on one key must still surface through the other
    pass; pairs sharing no key must not surface at all."""
    from neotree_data_pipeline_kedro_spark.operators.linkage import (
        multipass_block_pairs,
    )

    rows = [
        (1, "alpha-99"),
        (2, "alphX-99"),   # prefix broken, suffix shared with 1
        (3, "alpha-77"),   # suffix broken, prefix shared with 1
        (4, "zzzzz-00"),   # shares nothing
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in multipass_block_pairs(
            df,
            "id",
            [
                F.expr("substring(name, 1, 5)"),
                F.expr("substring(name, 7, 2)"),
            ],
        ).collect()
    }
    assert pairs == {(1, 2), (1, 3)}


# --------------------------------------------- incremental components
@pytest.mark.slow  # r13: heavy tail, builder-run via -m slow
def test_incremental_components_matches_batch(spark):
    """Incremental maintenance == batch recompute on the union graph,
    including new-node minting and the singleton/bridge/merge cases."""
    from neotree_data_pipeline_kedro_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    base_e = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id bigint")
    comp0 = connected_components(base_e, nodes=nodes)
    # delta: bridge two components (2-3), attach a brand-new node (9-6),
    # and an internal edge that changes nothing (1-2 again)
    delta = spark.createDataFrame(
        [(2, 3), (9, 6), (1, 2)], "src bigint, dst bigint"
    )
    got = {
        r["id"]: r["comp"]
        for r in incremental_components(comp0, delta).collect()
    }
    full = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (2, 3), (9, 6)], "src bigint, dst bigint"
    )
    want = {
        r["id"]: r["comp"]
        for r in connected_components(
            full, nodes=spark.createDataFrame(
                [(i,) for i in list(range(1, 9)) + [9]], "id bigint"
            )
        ).collect()
    }
    assert got == want


def test_incremental_components_bound_gate(spark):
    import pytest

    from neotree_data_pipeline_kedro_spark.operators.components import (
        incremental_components,
    )

    comp = spark.createDataFrame(
        [(i, i) for i in range(40)], "id bigint, comp bigint"
    )
    delta = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src bigint, dst bigint"
    )
    with pytest.raises(ValueError, match="max_driver_pairs"):
        incremental_components(comp, delta, max_driver_pairs=5)
