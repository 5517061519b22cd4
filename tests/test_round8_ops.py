"""Round-8 session ops: mixture rebalancing, license detection, LTTB
downsampling — unit semantics beyond the registry oracle rows."""
from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


# ------------------------------------------------ domain_mix_rebalance
def _mix(spark, rows, shares):
    from neotree_data_pipeline_kedro_spark.operators.sampling import (
        domain_mix_rebalance,
    )

    df = spark.createDataFrame(rows, "doc_id bigint, grp string, w bigint")
    return {
        r["grp"]: r
        for r in domain_mix_rebalance(
            df, "grp", "w", "doc_id", shares
        ).collect()
    }


def test_domain_mix_exact_rates(spark):
    """Hand-computed rates: A tot=10 share=50%, B tot=30 share=50% →
    feasible A=20, B=60, T*=20, rate_A=1e6 (binding cap), rate_B=333333."""
    rows = [(i, "A", 1) for i in range(10)] + [
        (100 + i, "B", 1) for i in range(30)
    ]
    out = _mix(spark, rows, {"A": 500_000, "B": 500_000})
    assert out["A"]["rate_ppm"] == 1_000_000
    assert out["B"]["rate_ppm"] == 333_333
    assert out["A"]["tot_weight"] == 10
    assert out["B"]["tot_weight"] == 30
    # the binding group keeps everything (gate < 1e6*2^24 always true)
    assert out["A"]["n_kept"] == 10 and out["A"]["weight_kept"] == 10


def test_domain_mix_gate_matches_md5(spark):
    """The kept count equals a Python replay of the md5 gate."""
    rows = [(i, "B", 2) for i in range(50)]
    shares = {"B": 500_000, "C": 500_000}
    rows += [(1000, "C", 100)]  # C huge → B is capped hard
    out = _mix(spark, rows, shares)
    rate = out["B"]["rate_ppm"]
    kept = [
        i
        for i in range(50)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) * 1_000_000
        < rate * 16_777_216
    ]
    assert out["B"]["n_kept"] == len(kept)
    assert out["B"]["weight_kept"] == 2 * len(kept)


def test_domain_mix_untargeted_group_dropped(spark):
    rows = [(1, "A", 5), (2, "Z", 5)]
    out = _mix(spark, rows, {"A": 1_000_000})
    assert set(out) == {"A"}


# ---------------------------------------------------- license_detect
def test_license_ladder_priority_and_flags(spark):
    from neotree_data_pipeline_kedro_spark.functions.text import (
        copyright_flag,
        license_detect,
    )

    cases = [
        (1, "Licensed under the Apache License. All rights reserved."),
        (2, "Released under the MIT License"),
        (3, "free software: GNU General Public License v3"),
        (4, "Copyright (c) 2024 Example. All rights reserved."),
        (5, "just some plain text"),
        (6, "THIS USES THE MOZILLA PUBLIC LICENSE 2.0"),
        # LGPL cites the GPL in its own body: LGPL must win the ladder
        (7, "GNU Lesser General Public License; see the GNU General"
            " Public License for details"),
        # CC restriction variants must NOT classify as permissive cc-by
        (8, "Creative Commons Attribution-NonCommercial 4.0"),
        (9, "Creative Commons Attribution-NoDerivatives 4.0"),
        (10, "released under CC0 1.0 / Creative Commons Zero"),
        (11, "Creative Commons Attribution 4.0 International"),
        # bare family hit with no variant: unknown variant, not cc-by
        (12, "licensed under a Creative Commons license"),
    ]
    df = spark.createDataFrame(cases, "id int, t string")
    got = {
        r["id"]: (r["lic"], r["c"])
        for r in df.select(
            "id",
            license_detect("t").alias("lic"),
            copyright_flag("t").alias("c"),
        ).collect()
    }
    assert got[1] == ("apache-2.0", False)  # ladder: apache beats proprietary
    assert got[2] == ("mit", False)
    assert got[3] == ("gpl", False)
    assert got[4] == ("proprietary", True)
    assert got[5] == ("unknown", False)
    assert got[6] == ("mpl-2.0", False)  # case-folded
    assert got[7] == ("lgpl", False)
    assert got[8] == ("cc-by-nc", False)
    assert got[9] == ("cc-by-nd", False)
    assert got[10] == ("cc0", False)
    assert got[11] == ("cc-by", False)
    assert got[12] == ("cc-unknown", False)


# --------------------------------------------------- lttb_downsample
def _lttb_twin(points, buckets):
    """Numpy-free exact replay of the centroid-anchor selection."""
    pts = sorted(set(points))
    n = len(pts)
    if n <= buckets:
        return [
            ((i * buckets) // n, x, y, 0) for i, (x, y) in enumerate(pts)
        ]
    by_bucket: dict[int, list[tuple[int, int, int]]] = {}
    for rn, (x, y) in enumerate(pts, start=1):
        by_bucket.setdefault(((rn - 1) * buckets) // n, []).append((rn, x, y))
    sums = {
        b: (sum(x for _, x, _ in v), sum(y for _, _, y in v), len(v))
        for b, v in by_bucket.items()
    }
    out = []
    for b, v in sorted(by_bucket.items()):
        if b == 0:
            rn, x, y = v[0]
            out.append((b, x, y, 0))
        elif b == buckets - 1:
            rn, x, y = v[-1]
            out.append((b, x, y, 0))
        else:
            sxp, syp, np_ = sums[b - 1]
            sxn, syn, nn = sums[b + 1]
            best = max(
                v,
                key=lambda p: (
                    abs(
                        (sxp * nn - sxn * np_) * (p[2] * np_ - syp)
                        - (sxp - p[1] * np_) * (syn * np_ - syp * nn)
                    ),
                    -p[0],
                ),
            )
            a2 = abs(
                (sxp * nn - sxn * np_) * (best[2] * np_ - syp)
                - (sxp - best[1] * np_) * (syn * np_ - syp * nn)
            )
            out.append((b, best[1], best[2], a2))
    return out


def test_lttb_matches_exact_twin(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        lttb_downsample,
    )

    pts = [(i, ((i * 37) % 101) - 50) for i in range(30)]
    df = spark.createDataFrame(
        [("k", x, y) for x, y in pts], "k string, x bigint, y bigint"
    )
    got = sorted(
        (r["bucket"], r["x"], r["y"], r["a2_score"])
        for r in lttb_downsample(df, "k", "x", "y", buckets=5).collect()
    )
    assert got == sorted(_lttb_twin(pts, 5))
    # endpoints always survive
    xs = {x for _, x, _, _ in got}
    assert 0 in xs and 29 in xs
    # exactly one point per bucket when n > buckets
    assert len(got) == 5


def test_lttb_passthrough_small_series(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        lttb_downsample,
    )

    df = spark.createDataFrame(
        [("k", i, i * 2) for i in range(4)], "k string, x bigint, y bigint"
    )
    got = lttb_downsample(df, "k", "x", "y", buckets=12).collect()
    assert len(got) == 4
    assert all(r["a2_score"] == 0 for r in got)


# ----------------------------------------------- binary quantization
def test_binary_words_pack_sign_bits(spark):
    from neotree_data_pipeline_kedro_spark.operators.similarity import (
        binary_quantize_words,
    )

    vec = [1.0 if i % 3 == 0 else -1.0 for i in range(64)]
    df = spark.createDataFrame(
        [(1, vec)], "vec_id bigint, embedding array<float>"
    )
    row = binary_quantize_words(df, "vec_id", "embedding").collect()[0]
    w0 = sum(1 << i for i in range(32) if i % 3 == 0)
    w1 = sum(1 << i for i in range(32) if (i + 32) % 3 == 0)
    assert (row["w0"], row["w1"]) == (w0, w1)
    assert 0 <= row["w0"] < 1 << 32 and 0 <= row["w1"] < 1 << 32


def test_binary_recall_self_is_perfect(spark):
    from neotree_data_pipeline_kedro_spark.operators.similarity import (
        binary_topk_recall,
    )
    from pyspark.sql import functions as SF

    rows = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) for j in range(64)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {
        r["query_id"]: r
        for r in binary_topk_recall(
            df, "vec_id", "embedding", SF.col("vec_id") < 3, k=5
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    for r in out.values():
        # the query itself is Hamming-0 and cosine-rank-1: overlap >= 1
        assert r["min_ham"] == 0
        assert 1 <= r["n_overlap"] <= 5


# ---------------------------------------------- mutual information
def test_mutual_information_extremes(spark):
    import math

    from neotree_data_pipeline_kedro_spark.operators.validation import (
        mutual_information,
    )

    # f_same == label (MI = H(label)); f_indep constant (MI = 0)
    rows = [(str(i % 3), "k", str(i % 3)) for i in range(90)]
    df = spark.createDataFrame(rows, "f_same string, f_indep string, y string")
    out = {
        r["feature"]: r["mi_micro_nats"]
        for r in mutual_information(df, ["f_same", "f_indep"], "y").collect()
    }
    assert out["f_indep"] == 0
    # H(uniform over 3) = ln 3; 3 cells each round(ln(3)*30*1e6/90)
    expect = 3 * round(math.log(3.0) * 30 * 1_000_000 / 90)
    assert abs(out["f_same"] - expect) <= 3  # per-cell rounding slack


def test_mutual_information_null_categories(spark):
    """NULL feature values are a real category, not dropped rows
    (ADVICE r8): a feature that is NULL exactly when the label is 'b'
    and 'v' otherwise is a PERFECT predictor — MI must equal H(label),
    not 0. And a half-NULL copy of a perfect feature keeps full MI."""
    import math

    from neotree_data_pipeline_kedro_spark.operators.validation import (
        mutual_information,
    )

    n = 120
    rows = [
        (
            # f_nullleak: NULL <=> label 'b' (perfect, purely via NULLs)
            None if i % 2 == 0 else "v",
            # f_halfnull: equals label but NULL on i%4 in (0,1) —
            # half NULL; NULL-category still aligns with both labels so
            # MI = I where NULL cells split across labels
            str(i % 2) if i % 4 >= 2 else None,
            "b" if i % 2 == 0 else "a",
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "f_nullleak string, f_halfnull string, y string"
    )
    out = {
        r["feature"]: (r["mi_micro_nats"], r["n_cells"])
        for r in mutual_information(
            df, ["f_nullleak", "f_halfnull"], "y"
        ).collect()
    }
    # perfect predictor: MI = H(label) = ln 2 (uniform binary)
    expect = 2 * round(math.log(2.0) * (n // 2) * 1_000_000 / n)
    mi, cells = out["f_nullleak"]
    assert cells == 2 and abs(mi - expect) <= 2
    # half-null copy: cells = {NULL×a, NULL×b, '0'×b, '1'×a};
    # NULL marginal n=60 splits 30/30 -> its cells contribute 0;
    # the two value cells each contribute round(ln(2*... )): exact
    # I = 0.5*ln(2) per the construction
    mi2, cells2 = out["f_halfnull"]
    expect2 = 2 * round(math.log(2.0) * (n // 4) * 1_000_000 / n)
    assert cells2 == 4 and abs(mi2 - expect2) <= 4


# ---------------------------------------------------- isotonic PAVA
def _pava_twin(ys):
    from math import gcd

    blocks = []
    for y in ys:
        blocks.append([int(y), 1])
        while (
            len(blocks) >= 2
            and blocks[-2][0] * blocks[-1][1] > blocks[-1][0] * blocks[-2][1]
        ):
            s, c = blocks.pop()
            blocks[-1][0] += s
            blocks[-1][1] += c
    out = []
    for s, c in blocks:
        g = gcd(s, c) or 1
        out.extend([(s // g, c // g)] * c)
    return out


def test_isotonic_matches_twin_and_is_monotone(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        isotonic_fit,
    )

    ys = [((i * 37) % 23) + i // 3 for i in range(40)]
    df = spark.createDataFrame(
        [("k", i, y) for i, y in enumerate(ys)],
        "grp string, x bigint, y bigint",
    )
    got = sorted(
        (r["x"], r["fit_num"], r["fit_den"])
        for r in isotonic_fit(df, "grp", "x", "y").collect()
    )
    twin = _pava_twin(ys)
    assert [(n, d) for _, n, d in got] == twin
    fits = [n / d for _, n, d in got]
    assert all(a <= b + 1e-12 for a, b in zip(fits, fits[1:]))


def test_isotonic_monotone_input_passthrough(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        isotonic_fit,
    )

    df = spark.createDataFrame(
        [("k", i, 10 + i) for i in range(8)], "grp string, x bigint, y bigint"
    )
    got = isotonic_fit(df, "grp", "x", "y").collect()
    assert all(r["fit_num"] == r["y"] and r["fit_den"] == 1 for r in got)


# ----------------------------------------------------- random walks
def test_random_walks_are_valid_and_deterministic(spark):
    import hashlib

    from neotree_data_pipeline_kedro_spark.operators.components import (
        random_walks,
    )

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1)]  # 2,3,1 cyclic; 4 → 1
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,), (4,), (9,)], "v bigint")  # 9 dangling
    out = random_walks(e, seeds, walk_length=3, walks_per_seed=2)
    rows = sorted(
        (r["walk_id"], r["step"], r["node"]) for r in out.collect()
    )
    walks: dict[int, list[int]] = {}
    for wid, step, node in rows:
        walks.setdefault(wid, []).append(node)
    # walk ids: seed*2 + j
    assert set(walks) == {2, 3, 8, 9, 18, 19}
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    for wid, seq in walks.items():
        assert seq[0] == wid // 2  # step 0 = the seed
        for a, b in zip(seq, seq[1:]):
            assert b in adj[a]  # every hop is a real edge
    # seed 9 has no out-edges: walk stops at the seed
    assert walks[18] == [9] and walks[19] == [9]
    # full-length walks from connected seeds
    assert len(walks[2]) == 4 and len(walks[8]) == 4

    # Python replay of the hash draw for walk 2, step 1 (node 1 → {2,3})
    def prio(wid, t, d):
        return hashlib.md5(f"{wid}|{t}|{d}".encode()).hexdigest()

    expect = min([2, 3], key=lambda d: (prio(2, 1, d), d))
    assert walks[2][1] == expect

    # determinism across runs
    again = sorted(
        (r["walk_id"], r["step"], r["node"])
        for r in random_walks(
            e, seeds, walk_length=3, walks_per_seed=2
        ).collect()
    )
    assert again == rows


# ------------------------------------------------------ phonetic code
def test_phonetic_code_classic_values(spark):
    from neotree_data_pipeline_kedro_spark.functions.strings import (
        phonetic_code,
    )

    cases = [
        ("Robert", "R163"),
        ("Rupert", "R163"),   # sounds alike → same block
        ("Tymczak", "T522"),
        ("Pfister", "P236"),  # doubled initial code collapses
        ("a", "A000"),        # pad
        ("small ring", "S546"),
        ("small rang", "S546"),  # vowel typo keeps the code
        ("!!!", None),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)],
                               "i int, s string")
    got = {r["i"]: r["c"] for r in df.select(
        "i", phonetic_code("s").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


# --------------------------------------------------- xcorr lag scan
def test_xcorr_finds_planted_lag(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        xcorr_lag_scan,
    )

    pat = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    a = spark.createDataFrame(
        [(t, v) for t, v in enumerate(pat)], "t bigint, x bigint"
    )
    b = spark.createDataFrame(  # b is a delayed copy: b(t+2) = a(t)
        [(t + 2, v) for t, v in enumerate(pat)], "t bigint, y bigint"
    )
    out = {r["lag"]: r for r in
           xcorr_lag_scan(a, b, "t", "x", "y", max_lag=3).collect()}
    r2 = out[2]
    assert r2["n_points"] == 10
    assert r2["num"] > 0 and r2["num"] ** 2 == r2["den_a"] * r2["den_b"]
    # no other lag is a perfect correlation
    for k, r in out.items():
        if k != 2 and r["n_points"] > 1:
            assert r["num"] ** 2 < r["den_a"] * r["den_b"]


# ------------------------------------------------ messy number parse
def test_parse_messy_number_formats(spark):
    from neotree_data_pipeline_kedro_spark.functions.strings import (
        parse_messy_number,
    )

    cases = [
        ("1,234.56", 1_234_560_000),
        ("1.234,56", 1_234_560_000),
        ("1 234,56", 1_234_560_000),
        ("$12,345.00", 12_345_000_000),
        ("(123.45)", -123_450_000),
        ("12,34", 12_340_000),     # lone ',' with 2 digits → decimal
        ("1,234", 1_234_000_000),  # lone ',' with 3 digits → grouping
        ("1.234", 1_234_000_000),  # same rule for '.'
        ("-42", -42_000_000),
        ("junk", None),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i int, s string"
    )
    got = {r["i"]: r["m"] for r in df.select(
        "i", parse_messy_number("s").alias("m")).collect()}
    for i, (s, want) in enumerate(cases):
        assert got[i] == want, (s, got[i], want)


# ------------------------------------------------- table checksum
def test_checksum_order_independent_and_sensitive(spark):
    from neotree_data_pipeline_kedro_spark.operators.validation import (
        row_fingerprint_checksum,
    )

    rows = [(i, f"name{i}", i * 7 % 13) for i in range(200)]
    a = spark.createDataFrame(rows, "k bigint, s string, v bigint")
    b = spark.createDataFrame(rows[::-1], "k bigint, s string, v bigint") \
        .repartition(7)
    cols = ["k", "s", "v"]
    ca = row_fingerprint_checksum(a, cols).collect()[0]
    cb = row_fingerprint_checksum(b, cols).collect()[0]
    assert (ca["n_rows"], ca["checksum"]) == (cb["n_rows"], cb["checksum"])
    mutated = [(i, f"name{i}", (i * 7 % 13) + (1 if i == 123 else 0))
               for i in range(200)]
    cm = row_fingerprint_checksum(
        spark.createDataFrame(mutated, "k bigint, s string, v bigint"), cols
    ).collect()[0]
    assert cm["checksum"] != ca["checksum"] and cm["n_rows"] == 200


def test_checksum_null_and_delimiter_distinct(spark):
    """Distinct rows must render distinctly (ADVICE r8): NULL position
    shifts and delimiter-bearing values are the concat_ws collision
    classes the length-prefixed rendering exists to kill."""
    from neotree_data_pipeline_kedro_spark.operators.validation import (
        row_fingerprint_checksum,
    )

    cols = ["a", "b", "c"]

    def cs(rows):
        df = spark.createDataFrame(rows, "a string, b string, c string")
        return row_fingerprint_checksum(df, cols).collect()[0]["checksum"]

    # NULL-position shift: ('a', NULL, 'b') vs ('a', 'b', NULL)
    assert cs([("a", None, "b")]) != cs([("a", "b", None)])
    # NULL vs literal 'N' vs empty string are three different rows
    assert len({cs([("a", None, "x")]), cs([("a", "N", "x")]),
                cs([("a", "", "x")])}) == 3
    # delimiter smuggling: ('a|b', 'c') row vs ('a', 'b|c') row
    assert cs([("a|b", "c", "z")]) != cs([("a", "b|c", "z")])
    # length-prefix smuggling: value containing the rendered prefix
    assert cs([("1:a", "b", "z")]) != cs([("a", "1:b", "z")])


# --------------------------------------------- curriculum interleave
def test_interleave_positions_unique_and_stable(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    out = QUERIES["ta_curriculum_interleave"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    pos = [r["global_pos"] for r in out]
    assert len(pos) == len(set(pos))  # round-robin slots never collide
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(
            (r["rn"], r["global_pos"])
        )
    for src, pairs in by_src.items():
        pairs.sort()
        # within a source, positions advance by exactly n_sources
        strides = {b2 - b1 for (_, b1), (_, b2) in zip(pairs, pairs[1:])}
        assert strides <= {20}


# -------------------------------------------- SFT + span validation
def test_sft_validator_flags_planted_violations(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["ta_sft_format_validate"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        if r["cust_id"] % 7 == 1:
            assert not r["no_empty"]  # planted empty first message
        if r["cust_id"] % 7 == 2 and r["n_turns"] >= 2:
            assert not r["alternates"]  # planted all-user roles
        assert r["valid"] == (
            r["starts_user"] and r["alternates"]
            and r["ends_assistant"] and r["no_empty"]
        )
    # organic failures exist too: odd-turn conversations end on 'user'
    assert any(not r["ends_assistant"] for r in rows)
    assert any(r["valid"] for r in rows)


def test_span_integrity_flags_consistent(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["ta_span_integrity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r["n_spans"] == 3 for r in rows)
    for r in rows:
        assert r["clean"] == (r["n_oob"] == 0 and r["n_overlap"] == 0)
    assert any(not r["clean"] for r in rows)  # violations occur organically
    assert any(r["clean"] for r in rows)


# --------------------------------------- temporal FK + backtest
def test_temporal_fk_planted_defects(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = {r["dim_class"]: r for r in QUERIES["j33_temporal_fk_check"](
        spark, "/root/testdata/sf0.001").collect()}
    clean = rows["clean"]
    assert clean["n_orphaned"] == 0 and clean["n_ambiguous"] == 0
    assert clean["n_exact"] == clean["n_facts"]
    # gap cohort: some orders orphan, none double-match
    assert rows["gap_planted"]["n_orphaned"] > 0
    assert rows["gap_planted"]["n_ambiguous"] == 0
    # overlap cohort: some orders match both versions, none orphan
    assert rows["overlap_planted"]["n_ambiguous"] > 0
    assert rows["overlap_planted"]["n_orphaned"] == 0
    for r in rows.values():
        assert r["n_exact"] + r["n_orphaned"] + r["n_ambiguous"] \
            == r["n_facts"]


def test_forecast_backtest_shape(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["w38_forecast_backtest"](
        spark, "/root/testdata/sf0.001").collect()
    by = {(r["region"], r["model"]): r for r in rows}
    models = {m for _, m in by}
    assert models == {"naive", "seasonal_naive"}
    for r in rows:
        assert 1 <= r["n_points"] <= 6
        assert r["sum_abs_err"] >= 0 and r["sum_ape_ppm"] >= 0


# ------------------------------------------- bootstrap + zipf fit
def test_bootstrap_replicas_sane(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["a58_bootstrap_ci"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 16
    # Poisson(1) weights: effective n stays near the day count and the
    # replica means bracket the plain mean
    import duckdb

    con = duckdb.connect()
    n_days, mean_y = con.execute(
        """SELECT COUNT(*), AVG(y) FROM (
             SELECT CAST(o_orderdate AS DATE) AS d,
                    SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 1000.0)
                        AS BIGINT)) AS y
             FROM read_parquet('/root/testdata/sf0.001/orders.parquet')
             GROUP BY 1)"""
    ).fetchone()
    for r in rows:
        assert 0.5 * n_days < r["n_eff"] < 1.5 * n_days
        assert abs(r["mean_rev"] - mean_y) / mean_y < 0.5
    # replicas differ (the draws are real, not degenerate)
    assert len({r["n_eff"] for r in rows}) > 1


def test_poisson_ladder_boundaries(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import (
        _POISSON1_T,
    )

    # ladder is monotone and spans the full 24-bit range
    assert _POISSON1_T == sorted(_POISSON1_T)
    assert 0 < _POISSON1_T[0] < _POISSON1_T[-1] < 16_777_216
    import math

    # thresholds really are the Poisson(1) CDF in 2^24 units
    pk, cum = math.exp(-1.0), 0.0
    for k, t in enumerate(_POISSON1_T):
        cum += pk
        assert t == int(cum * 16_777_216)
        pk = pk / (k + 1)


def test_zipf_slope_negative(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["u17_zipf_fit"](spark, "/root/testdata/sf0.001").collect()
    assert {r["lang"] for r in rows} >= {"en"}
    for r in rows:
        assert 1 <= r["n_points"] <= 100
        assert r["slope_den"] > 0
        assert r["zipf_slope"] < 0  # frequency falls with rank


# ------------------------------------------ fold + snapshot diff
def test_unicode_fold_cases(spark):
    from neotree_data_pipeline_kedro_spark.functions.text import (
        unicode_fold,
    )

    cases = [
        ("café", "cafe"),
        ("ÀÉÎÕÜ ñ ç ß", "AEIOU n c ss"),
        ("“quoted” — dash… done", '"quoted" - dash... done'),
        ("nbsp here", "nbsp here"),
        ("plain ascii", "plain ascii"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i int, s string"
    )
    got = {r["i"]: r["f"] for r in df.select(
        "i", unicode_fold("s").alias("f")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


def test_snapshot_diff_classification(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = {r["status"]: r["n_partitions"] for r in QUERIES[
        "s16_snapshot_diff"](spark, "/root/testdata/sf0.001").collect()}
    assert rows.get("added") == 1      # the cloned month under pm=400
    assert rows.get("deleted") == 1    # 1995-01 dropped
    assert rows.get("changed") == 1    # the cents-shifted month
    assert rows.get("unchanged", 0) >= 70  # the rest of 1995-2001


# ------------------------------------------- tiles + readability
def test_tile_image_stats_covers_all_pixels(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.functions.png import encode_png
    from neotree_data_pipeline_kedro_spark.operators.multimodal import (
        tile_image_stats,
    )

    h, w = 5, 7  # odd dims force edge tiles
    px = np.arange(h * w * 3, dtype=np.int64).reshape(h, w, 3) % 200
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(px.astype(np.uint8))))],
        "id bigint, img binary",
    )
    rows = tile_image_stats(df, "id", "img", tile=2).collect()
    assert len(rows) == 3 * 4  # ceil(5/2) x ceil(7/2)
    assert sum(r["px_n"] for r in rows) == h * w * 3
    assert sum(r["px_sum"] for r in rows) == int(px.sum())
    # edge tiles are smaller
    dims = {(r["tile_r"], r["tile_c"]): (r["tile_h"], r["tile_w"])
            for r in rows}
    assert dims[(2, 3)] == (1, 1) and dims[(0, 0)] == (2, 2)
    # exact per-tile replay
    for r in rows:
        blk = px[r["tile_r"]*2:r["tile_r"]*2+r["tile_h"],
                 r["tile_c"]*2:r["tile_c"]*2+r["tile_w"], :]
        assert r["px_sum"] == int(blk.sum())


def test_readability_monotone_in_sentence_length(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["ta_readability_scores"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["sentences"] >= 1 and r["syllables"] > 0
        # grade reconstructs from the components
        import math
        fk = (0.39 * r["words"] / r["sentences"]
              + 11.8 * r["syllables"] / r["words"] - 15.59) * 1e6
        assert abs(r["fk_grade_micro"] - fk) <= 1


# ---------------------------------------------- bloom calibration
def test_bloom_fpr_near_theory(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    r = QUERIES["u18_bloom_calibration"](
        spark, "/root/testdata/sf0.01").collect()[0]
    assert r["n_members"] > 0 and r["n_probes"] > 0
    assert 0 < r["bits_set"] <= min(4096, 3 * r["n_members"])
    # theory: p_bit = 1-(1-1/m)^(k*n); fpr ~ p_bit^k — measured FPR and
    # popcount should land near it (loose band: one small filter draw)
    m, k, n = 4096, 3, r["n_members"]
    p_bit = 1 - (1 - 1 / m) ** (k * n)
    assert abs(r["bits_set"] / m - p_bit) < 0.05
    fpr = r["n_false_pos"] / r["n_probes"]
    assert abs(fpr - p_bit ** k) < 0.1
    assert r["fpr_ppm"] == r["n_false_pos"] * 1_000_000 // r["n_probes"]


# --------------------------------------------------- luhn checksum
def test_luhn_split_and_known_values(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = {r["is_valid"]: r for r in QUERIES["f_luhn_checksum"](
        spark, "/root/testdata/sf0.001").collect()}
    assert rows[True]["n"] > 0 and rows[False]["n"] > 0

    # cross-check the engine's arithmetic against the textbook algorithm
    def luhn_ok(s):
        total = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d = d * 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0
    assert luhn_ok("79927398713")  # the canonical Luhn test number
    assert not luhn_ok("79927398710")


# ------------------------------------------------------ DAG layers
def test_dag_layers_longest_path_and_cycle_guard(spark):
    import pytest

    from neotree_data_pipeline_kedro_spark.operators.components import (
        dag_layers,
    )

    # diamond + tail: longest path wins (1->2->4->5 beats 1->4->5)
    edges = [(1, 2), (2, 4), (1, 4), (4, 5), (3, 5)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["layer"] for r in dag_layers(e).collect()}
    assert got == {1: 0, 3: 0, 2: 1, 4: 2, 5: 3}

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    with pytest.raises(ValueError, match="not a DAG"):
        dag_layers(cyc, max_iters=8)


# ----------------------------------------- CUPED + mahalanobis
def test_cuped_reduces_variance(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = {r["arm"]: r for r in QUERIES["a60_cuped_adjustment"](
        spark, "/root/testdata/sf0.01").collect()}
    assert set(rows) == {0, 1}
    for r in rows.values():
        # synthetic pre/post revenues are ~uncorrelated, so theta ~ 0:
        # the adjustment must never INFLATE variance beyond rounding
        # jitter (a correlated fixture would show a real cut; the
        # oracle pins the exact arithmetic either way)
        assert 0 < r["var_num_adj"] < r["var_num_y"] * 1.001
        assert r["n"] > 0 and r["sum_y"] > 0


def test_mahalanobis_ranks_planted_outlier_first(spark):
    from neotree_data_pipeline_kedro_spark.operators.similarity import (  # noqa: F401
        binary_quantize_words,
    )
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["emb_outlier_mahalanobis"](
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    ranks = [r["rank"] for r in rows]
    assert sorted(ranks) == list(range(1, 21))
    dm = [r["dist_micro"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert all(a >= b for a, b in zip(dm, dm[1:]))  # sorted by distance
    assert dm[0] > 0


# ------------------------------------- holm + trimmed mean
def test_holm_stepdown_is_monotone(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = sorted(QUERIES["a61_holm_bonferroni"](
        spark, "/root/testdata/sf0.01").collect(), key=lambda r: r["rank"])
    assert len(rows) == 25
    sig = [r["significant"] for r in rows]
    # step-down: once a rank fails, everything after fails
    if False in sig:
        first_fail = sig.index(False)
        assert all(not s for s in sig[first_fail:])
    # with random arms the null holds: nothing should clear the ladder
    # at rank 1's 3.09-sigma bar in this fixture
    z = [r["z_micro"] for r in rows]
    assert z == sorted(z, reverse=True)


def test_trimmed_mean_bounds(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["a62_trimmed_mean"](
        spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 25
    for r in rows:
        assert r["n_trimmed"] == r["n"] - 2 * r["k_trim"]
        assert 0 < r["sum_trimmed"] < r["sum_all"]
        # trimming symmetric deciles of a right-skewed metric pulls the
        # mean DOWN (whale orders live in the top decile)
        assert (r["sum_trimmed"] / r["n_trimmed"]
                < r["sum_all"] / r["n"] * 1.01)


# --------------------------------------- wasserstein + MDE
def test_wasserstein_properties(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    r = QUERIES["u22_wasserstein_drift"](
        spark, "/root/testdata/sf0.01").collect()[0]
    assert r["w1_den"] == r["na"] * r["nb"]
    assert r["w1_num"] >= 0
    assert abs(r["w1"] - r["w1_num"] / r["w1_den"]) < 1e-9
    # random arm split from the same distribution: W1 small vs the
    # value range (~hundreds of kilodollars)
    assert r["w1"] < 50


def test_mde_scales_inversely_with_n(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["a63_mde_power"](
        spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 25
    for r in rows:
        assert r["mde_micro"] > 0 and r["mde_rel_ppm"] > 0
    # bigger segments get tighter MDEs (loose rank correlation check)
    big = min(rows, key=lambda r: -(r["n0"] + r["n1"]))
    small = min(rows, key=lambda r: r["n0"] + r["n1"])
    if (big["n0"] + big["n1"]) > 2 * (small["n0"] + small["n1"]):
        assert big["mde_micro"] < small["mde_micro"]


# ----------------------------------- entropy rate + late dims
def test_entropy_rate_orders_texts_sanely(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES
    from pyspark.sql import functions as SF

    # deterministic successors (ab->cd->ab...) score zero conditional
    # entropy; a repeated context with 30 DIFFERENT successors scores
    # high (note: all-unique bigrams also score 0 — every context is
    # deterministic — which is why the gate pairs with the repetition
    # filters instead of replacing them)
    reps = " ".join(["ab cd"] * 30)
    varied = " ".join(f"x w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, reps, "en", "s", 1), (2, varied, "en", "s", 1)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r for r in QUERIES["ta_ngram_entropy_rate"](
        spark, d).collect()}
    assert out[1]["entropy_rate"] < out[2]["entropy_rate"]
    assert out[1]["h_micro_nats"] >= 0
    # fully deterministic repetition: every bigram's successor is fixed
    # except at the seam -> near-zero entropy
    assert out[1]["entropy_rate"] < 0.2


def test_late_arriving_dim_repairs_everything(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = {r["status"]: r for r in QUERIES["s18_late_arriving_dim"](
        spark, "/root/testdata/sf0.001").collect()}
    assert "orphaned" not in rows  # the full dim repairs every fact
    assert rows["repaired"]["n_facts"] > 0
    assert rows["matched"]["n_facts"] > rows["repaired"]["n_facts"]


# --------------------------------- templates + shrunk means
def test_template_mining_recovers_branches(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["ta_template_mining"](
        spark, "/root/testdata/sf0.001").collect()
    templates = {r["template"] for r in rows}
    assert templates == {
        "order # for customer # shipped, total #",
        "order # for customer # pending, total #",
        "order # for customer # failed after retry, total #",
    }
    for r in rows:
        assert r["n_events"] > 0 and r["example"].startswith("order ")


def test_shrunk_means_pull_toward_global(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["a67_shrunk_means"](
        spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 25
    total_n = sum(r["n"] for r in rows)
    for r in rows:
        # the blend lands between the raw segment mean and global side
        assert r["weight_ppm"] == r["n"] * 1_000_000 // (r["n"] + 50)
        assert 0 < r["weight_ppm"] < 1_000_000
    # shrinkage moves every mean strictly toward the others' pooled mean
    raw = {r["nation"]: r["mean_micro"] for r in rows}
    shr = {r["nation"]: r["shrunk_micro"] for r in rows}
    moved = sum(1 for k in raw if abs(shr[k] - raw[k]) > 0)
    assert moved >= 20  # almost every segment shifts at least a hair


# --------------------------------- chain ladder + emb drift
def test_chain_ladder_factor_properties(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = sorted(QUERIES["a68_chain_ladder"](
        spark, "/root/testdata/sf0.01").collect(), key=lambda r: r["age"])
    assert [r["age"] for r in rows] == list(range(11))
    for r in rows:
        # cumulative revenue never decreases: every factor >= 1
        assert r["num"] >= r["den"] > 0
        assert abs(r["dev_factor"] - r["num"] / r["den"]) < 1e-12
    # early development ages grow faster than late ones in aggregate
    assert rows[0]["dev_factor"] > rows[-1]["dev_factor"]


def test_emb_drift_null_case_is_quiet(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["emb_drift_by_dim"](
        spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 64
    # even/odd split of one distribution: most dims must NOT flag at 3
    # sigma (null case); allow a couple of chance excursions
    hot = sum(1 for r in rows if r["z_micro"] > 3_000_000)
    assert hot <= 4
    assert all(r["n0"] > 0 and r["n1"] > 0 for r in rows)


# --------------------------------- iso duration + dedup impact
def test_iso_duration_zero_mismatch(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["f_iso8601_duration"](
        spark, "/root/testdata/sf0.001").collect()
    assert {r["variant"] for r in rows} == {0, 1, 2, 3}
    assert all(r["n_mismatch"] == 0 for r in rows)
    assert all(r["sum_seconds"] >= 0 for r in rows)


def test_dedup_impact_recovers_planted_savings(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = QUERIES["ta_dedup_impact"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    total_dup = sum(r["n_dup_docs"] for r in rows)
    # exactly the planted clones (doc_id%4==0) are duplicates
    import duckdb
    con = duckdb.connect()
    expect = con.execute(
        "SELECT COUNT(*) FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet') "
        "WHERE doc_id % 4 = 0 AND trim(text) <> ''").fetchone()[0]
    assert total_dup == expect
    for r in rows:
        assert 0 <= r["tokens_saved"] < r["tokens_total"]
        assert r["saved_ppm"] == (
            r["tokens_saved"] * 1_000_000 // r["tokens_total"]
        )


# ------------------------------------------------ sequence gaps
def test_sequence_gap_audit_counts(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    rows = {r["status"]: r for r in QUERIES["v_sequence_gaps"](
        spark, "/root/testdata/sf0.001").collect()}
    assert rows["contiguous"]["n_missing_items"] == 0
    assert rows["gapped"]["n_sequences"] > 0
    assert rows["gapped"]["n_missing_items"] \
        >= rows["gapped"]["n_sequences"]
