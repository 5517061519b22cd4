"""Operator-level tests for the round-5 continuation batch: CDC apply,
bloom prefilter join, pareto frontier, substring-run dedup, triangle
count, DP noisy counts, ORC roundtrip."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from neotree_data_pipeline_kedro_spark.operators.components import triangle_count
from neotree_data_pipeline_kedro_spark.operators.joins import bloom_semi_join, semi_join
from neotree_data_pipeline_kedro_spark.operators.neardup import duplicate_ngram_runs
from neotree_data_pipeline_kedro_spark.operators.privacy import (
    dp_noisy_counts,
    laplace_hex_ladder,
)
from neotree_data_pipeline_kedro_spark.operators.sinks import apply_cdc
from neotree_data_pipeline_kedro_spark.operators.windows import pareto_frontier_2d
from neotree_data_pipeline_kedro_spark.sources.warehouse import roundtrip_format


# ---------------------------------------------------------------- apply_cdc
def test_apply_cdc_last_writer_and_delete(spark):
    log = spark.createDataFrame(
        [
            ("a", 1, "I", 10),
            ("a", 2, "U", 20),
            ("b", 1, "I", 30),
            ("b", 3, "D", None),
            ("c", 5, "D", None),
            ("c", 7, "I", 70),
        ],
        "k string, seq int, op string, v int",
    )
    out = apply_cdc(log, ["k"], "seq", "op")
    rows = {r["k"]: (r["seq"], r["op"], r["v"]) for r in out.collect()}
    assert rows == {"a": (2, "U", 20), "c": (7, "I", 70)}  # b deleted


def test_apply_cdc_base_loses_to_changes(spark):
    base = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    log = spark.createDataFrame(
        [("a", 10, "U", 99), ("b", 11, "D", None)],
        "k string, seq int, op string, v int",
    )
    out = apply_cdc(log, ["k"], "seq", "op", base=base)
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {"a": 99, "c": 3}  # a updated, b deleted, c passthrough


# ---------------------------------------------------------- bloom_semi_join
def test_bloom_semi_join_equals_plain_semi(spark):
    fact = spark.range(0, 5000).select(
        (F.col("id") % 997).alias("key"), F.col("id").alias("payload")
    )
    dim = spark.range(0, 200).select((F.col("id") * 7 % 997).alias("dkey"))
    got = bloom_semi_join(fact, dim, "key", "dkey")
    want = semi_join(
        fact, dim.select(F.col("dkey").alias("key")), ["key"]
    )
    assert got.orderBy("payload").collect() == want.orderBy("payload").collect()


def test_bloom_prefilter_has_no_false_negatives(spark):
    fact = spark.range(0, 2000).select((F.col("id") % 101).alias("key"))
    dim = spark.range(0, 30).select((F.col("id") * 3).alias("dkey"))
    pre = bloom_semi_join(fact, dim, "key", "dkey", exact=False)
    exact = bloom_semi_join(fact, dim, "key", "dkey", exact=True)
    # every true match survives the prefilter; prefilter never exceeds fact
    assert pre.count() >= exact.count()
    assert pre.count() <= fact.count()
    missing = exact.select("key").exceptAll(pre.select("key"))
    assert missing.count() == 0


# ------------------------------------------------------- pareto_frontier_2d
def _brute_frontier(pts):
    out = []
    for i, (x, y) in enumerate(pts):
        dominated = any(
            (qx <= x and qy <= y and (qx < x or qy < y)) for qx, qy in pts
        )
        if not dominated:
            out.append((x, y))
    return sorted(out)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pareto_frontier_matches_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    pts = [(rng.randint(0, 40) / 2.0, rng.randint(0, 40)) for _ in range(300)]
    pts += pts[:5]  # duplicates must all survive when on the frontier
    df = spark.createDataFrame(pts, "x double, y bigint")
    got = sorted((r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect())
    want = []
    for x, y in pts:
        if not any(qx <= x and qy <= y and (qx < x or qy < y) for qx, qy in pts):
            want.append((x, y))
    assert got == sorted(want)


def test_pareto_frontier_single_partition_agrees(spark):
    pts = [(float(i % 13), (i * 7) % 17) for i in range(200)]
    df = spark.createDataFrame(pts, "x double, y bigint")
    a = sorted(map(tuple, pareto_frontier_2d(df, "x", "y").collect()))
    b = sorted(
        map(tuple, pareto_frontier_2d(df.coalesce(1), "x", "y").collect())
    )
    assert a == b


# --------------------------------------------------- duplicate_ngram_runs
def test_duplicate_ngram_runs_flags_shared_boilerplate(spark):
    boiler = "this content is licensed under the terms of the license"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma"),
            (2, "unrelated words only here totally different text stream"),
            (3, "intro text then " + boiler),
        ],
        "doc_id bigint, text string",
    )
    out = duplicate_ngram_runs(docs, "doc_id", "text", n=8, min_docs=2)
    rows = out.collect()
    assert rows, "shared 8-token runs must be flagged"
    assert all(r["n_docs"] >= 2 for r in rows)
    # the full 10-token boilerplate yields 3 distinct 8-gram windows
    assert len(rows) == 3
    assert all(r["n_occ"] == 2 for r in rows)


def test_duplicate_ngram_runs_short_docs_empty(spark):
    docs = spark.createDataFrame(
        [(1, "too short"), (2, ""), (3, None)], "doc_id bigint, text string"
    )
    assert duplicate_ngram_runs(docs, "doc_id", "text", n=8).count() == 0


# ---------------------------------------------------------- triangle_count
def test_triangle_count_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus pendant 5
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges.append((4, 5))
    edges.append((2, 1))  # duplicate reverse edge must not double-count
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_triangle_free(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    assert triangle_count(df).count() == 0


# --------------------------------------------------------- dp_noisy_counts
def test_laplace_hex_ladder_is_monotone_and_total():
    lad = laplace_hex_ladder(1.0, 10)
    assert [k for _, k in lad] == list(range(-10, 11))
    hexes = [t for t, _ in lad[:-1]]
    assert hexes == sorted(hexes)
    assert lad[-1][0] > "ffffff"  # catch-all above any md5 digest


def test_dp_noisy_counts_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(f"g{i % 4}",) for i in range(400)], "g string"
    )
    out1 = {r["g"]: r["n_noisy"] for r in dp_noisy_counts(df, ["g"]).collect()}
    out2 = {r["g"]: r["n_noisy"] for r in dp_noisy_counts(df, ["g"]).collect()}
    assert out1 == out2  # same salt -> same release
    for g, noisy in out1.items():
        assert abs(noisy - 100) <= 10  # |noise| <= kmax
    out3 = {
        r["g"]: r["n_noisy"]
        for r in dp_noisy_counts(df, ["g"], salt="other").collect()
    }
    assert out3 != out1  # rotating the salt redraws the noise


def test_dp_noise_matches_manual_ladder(spark):
    df = spark.createDataFrame([("seg",)] * 50, "g string")
    (row,) = dp_noisy_counts(df, ["g"], salt="dp1").collect()
    h = hashlib.md5(b"seg|dp1").hexdigest()
    noise = next(k for thr, k in laplace_hex_ladder(1.0, 10) if h < thr)
    assert row["n_noisy"] == 50 + noise


# -------------------------------------------------------- roundtrip_format
def test_orc_roundtrip_preserves_types(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", 10.5), (2, None, -0.25)], "id bigint, s string, v double"
    ).withColumn("d", F.to_date(F.lit("2024-02-29")))
    back = roundtrip_format(df, str(tmp_path / "orc"), "orc")
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


# ---------------------------------------------------------- frequent_items
def test_frequent_items_exact_vs_groupby(spark):
    from neotree_data_pipeline_kedro_spark.operators.frequency import frequent_items

    # zipf-ish: value v appears ~ 1000/v times
    rows = [(f"v{v}",) for v in range(1, 60) for _ in range(1000 // v)]
    df = spark.createDataFrame(rows, "tok string").repartition(16)
    got = {
        (r["tok"], r["cnt"])
        for r in frequent_items(df, "tok", support=0.02).collect()
    }
    import math

    n = len(rows)
    thresh = math.ceil(0.02 * n)
    exact = {
        (r["tok"], r["cnt"])
        for r in df.groupBy("tok")
        .count()
        .withColumnRenamed("count", "cnt")
        .filter(F.col("cnt") >= thresh)
        .collect()
    }
    assert got == exact and got  # non-degenerate


def test_frequent_items_partitioning_invariant(spark):
    from neotree_data_pipeline_kedro_spark.operators.frequency import frequent_items

    rows = [(f"t{v % 7}",) for v in range(500)] + [("rare",)] * 3
    df = spark.createDataFrame(rows, "tok string")
    a = sorted(map(tuple, frequent_items(df.coalesce(1), "tok", 0.05).collect()))
    b = sorted(map(tuple, frequent_items(df.repartition(32), "tok", 0.05).collect()))
    assert a == b
    assert ("rare", 3) not in a


# -------------------------------------------------------------- maxsim_topk
def test_maxsim_matches_numpy(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.operators.similarity import maxsim_topk

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") < 3)
    got = maxsim_topk(
        df, queries, "vec_id", "embedding", k=5, subvectors=2, scale=1000, dim=8
    ).collect()

    qv = np.round(vecs.astype("float64") * 1000).astype("int64").reshape(40, 2, 4)
    for qid in range(3):
        scores = np.einsum("sd,ntd->snt", qv[qid], qv.reshape(40, 2, 4)).max(
            axis=2
        ).sum(axis=0)
        order = sorted(range(40), key=lambda i: (-scores[i], i))[:5]
        mine = [
            (r["neighbor_id"], r["score"])
            for r in sorted(
                (x for x in got if x["query_id"] == qid), key=lambda r: r["rank"]
            )
        ]
        assert mine == [(i, int(scores[i])) for i in order]


# --------------------------------------------------------- fellegi-sunter
def test_fs_weights_signs_and_exact_points():
    from neotree_data_pipeline_kedro_spark.operators.linkage import field_weights

    wa, wd = field_weights(0.8, 0.05)
    assert wa == 4_000_000  # log2(16) exactly
    assert wd < 0
    wa2, wd2 = field_weights(0.9, 0.2)
    assert wd2 == -3_000_000  # log2(1/8) exactly
    with pytest.raises(ValueError):
        field_weights(0.2, 0.9)


def test_fs_score_and_classify(spark):
    from neotree_data_pipeline_kedro_spark.operators.linkage import (
        fs_classify,
        fs_score,
    )

    df = spark.createDataFrame(
        [(True, True), (True, False), (False, False)], "a boolean, b boolean"
    )
    score = fs_score([(F.col("a"), 0.8, 0.05), (F.col("b"), 0.9, 0.2)])
    out = df.select(
        score.alias("s"), fs_classify(score).alias("cls")
    ).collect()
    by = {(r["s"], r["cls"]) for r in out}
    # exact: 4e6 + log2(4.5)e6 ; 4e6 - 3e6 ; wd1 - 3e6
    assert (4_000_000 + 2_169_925, "match") in by
    assert (1_000_000, "possible") in by
    assert any(cls == "non_match" and s < 0 for s, cls in by)


# ---------------------------------------------------- grid_density_outliers
def test_grid_density_outliers_flags_isolated_point(spark):
    from neotree_data_pipeline_kedro_spark.operators.validation import (
        grid_density_outliers,
    )

    # dense blob near origin + one isolated point far away
    rows = [(float(i % 5), float(i // 5 % 5)) for i in range(100)]
    rows.append((500.0, 500.0))
    df = spark.createDataFrame(rows, "x double, y double")
    out = grid_density_outliers(
        df, "x", "y", x_width=10.0, y_width=10.0, min_pts=5
    ).collect()
    assert [(r["x"], r["y"]) for r in out] == [(500.0, 500.0)]
    assert out[0]["nb_count"] == 1


def test_grid_density_outliers_neighborhood_counts(spark):
    from neotree_data_pipeline_kedro_spark.operators.validation import (
        grid_density_outliers,
    )

    # two adjacent cells: counts smear into each other's neighborhoods
    rows = [(0.5, 0.5)] * 3 + [(1.5, 0.5)] * 4
    df = spark.createDataFrame(rows, "x double, y double")
    out = grid_density_outliers(df, "x", "y", x_width=1.0, y_width=1.0, min_pts=100)
    assert {r["nb_count"] for r in out.collect()} == {7}


# -------------------------------------------------------- unigram_logprob
def test_unigram_logprob_matches_python(spark):
    import math

    from neotree_data_pipeline_kedro_spark.operators.frequency import unigram_logprob

    toks = [
        (1, "the"), (1, "cat"), (2, "the"), (2, "the"), (2, "dog"),
    ]
    df = spark.createDataFrame(toks, "doc bigint, token string")
    got = {r["doc"]: (r["n_tokens"], r["logprob_micro"])
           for r in unigram_logprob(df, "doc", "token").collect()}
    counts = {"the": 3, "cat": 1, "dog": 1}
    n = 5
    lp = {t: round(math.log(c / n) * 1_000_000) for t, c in counts.items()}
    assert got == {
        1: (2, lp["the"] + lp["cat"]),
        2: (3, 2 * lp["the"] + lp["dog"]),
    }


# ----------------------------------------------------------- rolling_median
def test_rolling_median_matches_pandas(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import rolling_median

    rows = [(1, i, float((i * 7) % 23)) for i in range(20)]
    df = spark.createDataFrame(rows, "g bigint, t bigint, v double")
    got = {
        r["t"]: r["rolling_median"]
        for r in rolling_median(df, ["g"], "t", "v", window=5).collect()
    }
    import pandas as pd

    s = pd.Series([v for _, _, v in rows])
    want = s.rolling(5).median()
    for i in range(20):
        if i < 4:
            assert got[i] is None
        else:
            assert got[i] == want[i]


# --------------------------------------------------------- running_distinct
def test_running_distinct_counts(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import running_distinct

    rows = [("a", 1), ("b", 1), ("a", 2), ("c", 3), ("b", 3), ("d", 5)]
    df = spark.createDataFrame(rows, "k string, t bigint")
    got = {
        r["t"]: (r["new_keys"], r["cum_distinct"])
        for r in running_distinct(df, "k", "t").collect()
    }
    # b first appears at t=1; its t=3 row adds nothing
    assert got == {1: (2, 2), 2: (0, 2), 3: (1, 3), 5: (1, 4)}


# -------------------------------------------------------------- ewma_integer
def test_ewma_integer_matches_manual_walk(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import ewma_integer

    xs = [1000, 2000, 400, 400, 10000]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)], "g bigint, rn bigint, x bigint"
    )
    out = ewma_integer(df, ["g"], "rn", "x", num=1, den=4, out_col="s")
    got = [r["s"] for r in out.orderBy("rn").collect()]
    s = None
    want = []
    for x in xs:
        s = x if s is None else (x + 3 * s) // 4
        want.append(s)
    assert got == want


def test_ewma_integer_groups_independent(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import ewma_integer

    df = spark.createDataFrame(
        [(1, 0, 100), (2, 0, 900), (1, 1, 200), (2, 1, 100)],
        "g bigint, rn bigint, x bigint",
    )
    out = {(r["g"], r["rn"]): r["s"] for r in
           ewma_integer(df, ["g"], "rn", "x", out_col="s").collect()}
    assert out == {(1, 0): 100, (1, 1): 125, (2, 0): 900, (2, 1): 700}


# -------------------------------------------------------- holt_linear_integer
def test_holt_linear_matches_manual_walk(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        holt_linear_integer,
    )

    xs = [1000, 2000, 400, 400, 10000, 9000]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)], "g bigint, rn bigint, x bigint"
    )
    out = holt_linear_integer(df, ["g"], "rn", "x")
    got = [
        (r["level_micro"], r["trend_micro"], r["forecast_micro"])
        for r in out.orderBy("rn").collect()
    ]
    lvl = trend = None
    want = []
    for x in xs:
        if lvl is None:
            lvl, trend = x, 0
        else:
            prev = lvl
            lvl = (x + 3 * (lvl + trend)) // 4
            trend = ((lvl - prev) + 3 * trend) // 4
        want.append((lvl, trend, lvl + trend))
    assert got == want


def test_holt_linear_groups_independent(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        holt_linear_integer,
    )

    df = spark.createDataFrame(
        [(1, 0, 100), (2, 0, 900), (1, 1, 200), (2, 1, 100)],
        "g bigint, rn bigint, x bigint",
    )
    out = {
        (r["g"], r["rn"]): (r["level_micro"], r["trend_micro"])
        for r in holt_linear_integer(df, ["g"], "rn", "x").collect()
    }
    # g=1: l0=100,b0=0; l1=(200+3*100)//4=125, b1=(25+0)//4=6
    # g=2: l0=900,b0=0; l1=(100+3*900)//4=700, b1=(-200+0)//4=-50
    assert out == {
        (1, 0): (100, 0),
        (1, 1): (125, 6),
        (2, 0): (900, 0),
        (2, 1): (700, -50),
    }


# ------------------------------------------------- holt_winters_integer
def test_holt_winters_matches_manual_walk(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        holt_winters_integer,
    )

    xs = [100, 220, 90, 340, 100, 250, 80, 360, 110, 230]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)], "g bigint, rn bigint, x bigint"
    )
    out = holt_winters_integer(df, ["g"], "rn", "x", period=4)
    got = [
        (r["level"], r["trend"], r["seasonal"], r["fitted"])
        for r in out.orderBy("rn").collect()
    ]
    l = b = None
    s = [0] * 4
    want = []
    for t, x in enumerate(xs, start=1):
        i = (t - 1) % 4
        if l is None:
            l, b, fit = x, 0, None
        else:
            sp = s[i]
            fit = l + b + sp
            ln = ((x - sp) + 3 * (l + b)) // 4
            b = ((ln - l) + 3 * b) // 4
            s[i] = ((x - ln) + 3 * sp) // 4
            l = ln
        want.append((l, b, s[i], fit))
    assert got == want


def test_holt_winters_rejects_non_dyadic_denominator(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        holt_winters_integer,
    )

    df = spark.createDataFrame([(1, 0, 1)], "g bigint, rn bigint, x bigint")
    with pytest.raises(ValueError):
        holt_winters_integer(df, ["g"], "rn", "x", alpha_den=3)


# ----------------------------------------------------- hll sketch rollup
def test_hll_rollup_merge_accuracy(spark):
    """Merged-sketch estimate within 2% of exact per year (the registry
    query since r10 only EXPOSES a 5%-bound boolean — the tight bound
    is pinned here), and the query's est_ok flags are all TRUE."""
    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES
    from neotree_data_pipeline_kedro_spark.sources.tables import load_table

    from conftest import SF_SMOKE

    o = load_table(spark, "orders", SF_SMOKE)
    est = (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .groupBy("y")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("bigint")
            .alias("est_distinct")
        )
    )
    exact = o.groupBy(F.year("o_orderdate").alias("y")).agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    rows = est.join(exact, "y").collect()
    assert rows, "no yearly rows"
    for r in rows:
        err = abs(r["est_distinct"] - r["exact_distinct"]) / max(
            r["exact_distinct"], 1
        )
        assert err <= 0.02, (r["y"], r["est_distinct"], r["exact_distinct"])

    q = QUERIES["v_sketch_rollup_merge"](spark, SF_SMOKE).collect()
    assert q and all(r["est_ok"] for r in q)


def test_stream_static_dim_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriched by a static
    broadcast dimension — the lookup shape that needs no watermark and
    no stream-stream state."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("v", T.LongType()),
        ]
    )
    src = str(tmp_path / "src")
    pdf = pd.DataFrame({"user_id": [1, 2, 1, 3], "v": [10, 20, 30, 40]})
    spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema(schema).parquet(src)
    joined = stream.join(F.broadcast(dim), "user_id", "left").groupBy(
        "tier"
    ).agg(F.sum("v").alias("sv"))
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_dim")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["tier"]: r["sv"] for r in spark.sql("select * from ss_dim").collect()}
    assert got == {"gold": 40, "silver": 20, None: 40}


# ------------------------------------------------------- observation metrics
def test_observation_inline_quality_counters(spark, tmp_path):
    """df.observe(): data-quality counters collected DURING the write
    action itself — no second scan for row counts / null rates, the
    0-extra-cost audit hook for 100 TB jobs."""
    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, None)], "k long, v double"
    )
    obs = Observation("quality")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_v_nonnull"),
        F.sum("v").alias("v_sum"),
    )
    out.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == 4 and got["n_v_nonnull"] == 2
    assert got["v_sum"] == 40.0


# -------------------------------------------------------- global_prefix_scan
def test_global_prefix_scan_matches_window_cumsum(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        global_prefix_scan,
    )

    rows = [((i * 37) % 19, i, (i % 7) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k bigint, u bigint, v bigint")
    out = {
        (r["k"], r["u"]): (r["rn"], r["cum"])
        for r in global_prefix_scan(df, ["k", "u"], "v").collect()
    }
    run = 0
    for i, (k, u, v) in enumerate(sorted(rows)):
        run += v
        assert out[(k, u)] == (i + 1, run)


# ------------------------------------------------------ km_survival_integer
def test_km_survival_matches_manual_product_limit(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        km_survival_integer,
    )

    # (cohort, t, n_at_risk, d_events)
    rows = [("a", 1, 10, 2), ("a", 3, 7, 1), ("a", 9, 4, 3),
            ("b", 2, 5, 1), ("b", 4, 4, 4)]
    df = spark.createDataFrame(rows, "g string, t bigint, n bigint, d bigint")
    out = {
        (r["g"], r["t"]): r["survival_ppb"]
        for r in km_survival_integer(df, "g", "t", "n", "d").collect()
    }
    want = {}
    for g in ("a", "b"):
        s = 10**9
        for (gg, t, n, d) in rows:
            if gg != g:
                continue
            s = (s * (n - d)) // n
            want[(g, t)] = s
    assert out == want
    assert out[("b", 4)] == 0  # everyone at risk died -> survival hits zero


# ----------------------------------------------- global_row_number / ntile
def test_global_row_number_matches_window(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        global_row_number,
    )

    rows = [(i * 7919 % 101, i) for i in range(100)]
    df = spark.createDataFrame(rows, "v bigint, k bigint")
    out = global_row_number(df, ["v", "k"], out_col="rn")
    got = {(r["v"], r["k"]): r["rn"] for r in out.collect()}
    want = {
        (v, k): i + 1 for i, (v, k) in enumerate(sorted(rows))
    }
    assert got == want


def test_ntile_from_rank_matches_spark_ntile(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        ntile_from_rank,
    )
    from pyspark.sql import Window as W

    for n in (4, 5, 7, 8, 11):
        df = spark.createDataFrame([(i,) for i in range(1, n + 1)], "k bigint")
        native = df.select(
            "k", F.ntile(4).over(W.orderBy("k")).cast("bigint").alias("b")
        )
        mine = df.crossJoin(
            df.agg(F.count(F.lit(1)).alias("n"))
        ).select("k", ntile_from_rank(F.col("k"), F.col("n"), 4).alias("b"))
        assert {(r["k"], r["b"]) for r in native.collect()} == {
            (r["k"], r["b"]) for r in mine.collect()
        }, f"n={n}"


# ------------------------------------------------------ minmax_prune_scan
def test_minmax_pruning_skips_disjoint_files(spark, tmp_path):
    from neotree_data_pipeline_kedro_spark.sources.warehouse import (
        minmax_prune_scan,
    )

    d = str(tmp_path / "clustered")
    df = spark.range(0, 10000).select(F.col("id").alias("k"))
    df.repartitionByRange(10, "k").sortWithinPartitions("k").write.parquet(d)
    out, read, total = minmax_prune_scan(spark, d, "k", 2500, 3499)
    assert total == 10
    assert read <= 2  # clustered layout -> predicate touches ~1 file
    assert out.count() == 1000
    assert out.agg(F.min("k"), F.max("k")).collect()[0] == (2500, 3499)


def test_minmax_pruning_unclustered_still_correct(spark, tmp_path):
    from neotree_data_pipeline_kedro_spark.sources.warehouse import (
        minmax_prune_scan,
    )

    d = str(tmp_path / "shuffled")
    spark.range(0, 5000).select((F.col("id") * 37 % 5000).alias("k")).repartition(
        8
    ).write.parquet(d)
    out, read, total = minmax_prune_scan(spark, d, "k", 100, 199)
    assert out.count() == 100  # pruning never costs correctness
    assert read == total  # random layout -> nothing skippable


def test_minmax_empty_range(spark, tmp_path):
    from neotree_data_pipeline_kedro_spark.sources.warehouse import (
        minmax_prune_scan,
    )

    d = str(tmp_path / "t")
    spark.range(0, 100).select(F.col("id").alias("k")).write.parquet(d)
    out, read, total = minmax_prune_scan(spark, d, "k", 5000, 6000)
    assert read == 0 and out.count() == 0


# ----------------------------------------------------- interpolate_linear
def test_interpolate_linear_slopes_and_edges(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        interpolate_linear,
    )

    rows = [
        (1, 0, None),   # leading gap -> backfill 10.0
        (1, 1, 10.0),
        (1, 2, None),   # 10 + (40-10)*(2-1)/(4-1) = 20
        (1, 3, None),   # 30
        (1, 4, 40.0),
        (1, 5, None),   # trailing gap -> LOCF 40
        (2, 0, 7.0),
    ]
    df = spark.createDataFrame(rows, "g bigint, t bigint, v double")
    got = {
        (r["g"], r["t"]): r["interp"]
        for r in interpolate_linear(df, ["g"], "t", "v").collect()
    }
    assert got == {
        (1, 0): 10.0,
        (1, 1): 10.0,
        (1, 2): 20.0,
        (1, 3): 30.0,
        (1, 4): 40.0,
        (1, 5): 40.0,
        (2, 0): 7.0,
    }


def test_interpolate_all_null_group(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        interpolate_linear,
    )

    df = spark.createDataFrame(
        [(1, 0, None), (1, 1, None)], "g bigint, t bigint, v double"
    )
    out = interpolate_linear(df, ["g"], "t", "v").collect()
    assert all(r["interp"] is None for r in out)


# ------------------------------------------------------ set_similarity_join
def test_ppjoin_matches_bruteforce(spark):
    import itertools
    import random

    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        set_similarity_join,
    )

    rng = random.Random(3)
    vocab = [f"t{i}" for i in range(40)]
    sets = [rng.sample(vocab, rng.randint(5, 15)) for _ in range(60)]
    sets[10] = sets[5] + ["extra"]  # planted near-dup
    sets[20] = list(sets[7])  # planted exact dup
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sets)], "id bigint, s array<string>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in set_similarity_join(df, "id", "s", tau_num=6, tau_den=10).collect()
    }
    want = set()
    dsets = [set(s) for s in sets]
    for a, b in itertools.combinations(range(60), 2):
        inter = len(dsets[a] & dsets[b])
        union = len(dsets[a] | dsets[b])
        if inter * 10 >= 6 * union:
            want.add((a, b))
    assert got == want
    assert (5, 10) in got and (7, 20) in got


def test_ppjoin_exact_jaccard_values(spark):
    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        set_similarity_join,
    )

    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, ["a", "b", "c", "e"]), (3, ["x"])],
        "id bigint, s array<string>",
    )
    rows = set_similarity_join(df, "id", "s", tau_num=6, tau_den=10).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"], r["inter"], r["union_n"]) == (1, 2, 3, 5)
    assert r["jaccard"] == 0.6


def test_ppjoin_positional_filter_prunes_late_prefix_hits(spark):
    """PPJoin positional filter (round-7): a pair whose ONLY shared
    prefix token sits at the END of both prefixes cannot reach the
    overlap minimum (cnt + min suffix < alpha) and must be pruned from
    the candidate set, while a genuinely similar pair survives. At
    tau=8/10 with |a|=|b|=10: prefix p=3, alpha=ceil(8*20/18)=9; a
    position-3-only hit bounds overlap at 1+min(7,7)=8 < 9 -> pruned
    (the pre-round-7 distinct would have carried it to the verify
    join); a position-1 hit bounds at 1+9=10 >= 9 -> kept."""
    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        _ppjoin_candidates,
    )

    rows = [
        # similar pair: 9 of 10 tokens shared, prefixes overlap early
        (1, [f"t{i}" for i in range(10)], 10),
        (2, [f"t{i}" for i in range(9)] + ["u1"], 10),
        # prunable pair: only 'x' shared, at position 3 of both prefixes
        (3, ["c1", "c2", "x"] + [f"c{i}" for i in range(4, 11)], 10),
        (4, ["d1", "d2", "x"] + [f"d{i}" for i in range(4, 11)], 10),
    ]
    ordered = spark.createDataFrame(
        rows, "__id bigint, __s array<string>, __n int"
    )
    cand = {
        (r["__ida"], r["__idb"])
        for r in _ppjoin_candidates(ordered, 8, 10).collect()
    }
    assert (1, 2) in cand
    assert (3, 4) not in cand  # pruned BEFORE the verify join


# ---------------------------------------------------------------- salted_agg
def test_salted_agg_equals_plain_groupby(spark):
    from neotree_data_pipeline_kedro_spark.operators.joins import salted_agg

    df = spark.range(0, 10000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 97).alias("v")
    )
    got = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.count(F.lit(1)), "sum"),
                "s": (F.sum("v"), "sum"),
                "lo": (F.min("v"), "min"),
                "hi": (F.max("v"), "max"),
            },
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want


def test_salted_agg_rejects_bad_merge(spark):
    from neotree_data_pipeline_kedro_spark.operators.joins import salted_agg

    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], {"x": (F.avg("k"), "avg")}).collect()


# -------------------------------------------------------------- nullsafe_join
def test_nullsafe_join_matches_null_keys(spark):
    from neotree_data_pipeline_kedro_spark.operators.joins import nullsafe_join

    left = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id bigint, k string"
    )
    right = spark.createDataFrame(
        [("a", "A"), (None, "N")], "k string, label string"
    )
    got = {(r["id"], r["label"]) for r in nullsafe_join(left, right, ["k"]).collect()}
    assert got == {(1, "A"), (2, "N"), (4, "N")}  # plain = would drop 2 and 4


# ------------------------------------------- dynamic partition pruning (DPP)
def test_dynamic_partition_pruning_fires(spark, tmp_path):
    fact_dir = str(tmp_path / "fact_part")
    fact = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 12).alias("part")
    )
    fact.write.partitionBy("part").parquet(fact_dir)
    dim = spark.range(0, 12).select(
        F.col("id").alias("part"), (F.col("id") % 2 == 0).alias("keep")
    )
    f = spark.read.parquet(fact_dir)
    j = f.join(dim.filter(F.col("keep")), ["part"]).groupBy("part").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    # the fact scan's partition filter must reference the runtime subquery
    assert "dynamicpruning" in plan.lower()
    assert {r["part"] for r in j.collect()} == {0, 2, 4, 6, 8, 10}


# ------------------------------------------------------------ url functions
def test_canonicalize_url_policy(spark):
    from neotree_data_pipeline_kedro_spark.functions.urls import (
        canonicalize_url,
        url_domain,
    )

    df = spark.createDataFrame(
        [
            ("HTTPS://WWW.Example.COM/Path/File?q=1&utm=x#frag",),
            ("http://host.org/CaseSensitivePath",),
            ("https://plain.net",),
            ("not-a-url",),
        ],
        "u string",
    )
    out = df.select(
        canonicalize_url("u").alias("c"), url_domain("u").alias("d")
    ).collect()
    assert out[0]["c"] == "https://www.example.com/Path/File"  # path case kept
    assert out[0]["d"] == "www.example.com"
    assert out[1]["c"] == "http://host.org/CaseSensitivePath"
    assert out[2]["c"] == "https://plain.net" and out[2]["d"] == "plain.net"
    assert out[3]["c"] == "not-a-url" and out[3]["d"] == ""


# ------------------------------------------------------------- run_contract
def test_run_contract_flags_each_violation_kind(spark):
    from neotree_data_pipeline_kedro_spark.operators.validation import run_contract

    facts = spark.createDataFrame(
        [(1, "a", 10), (2, "a", None), (2, "zz", 30), (4, None, 40)],
        "id bigint, status string, fk int",
    )
    dim = spark.createDataFrame([(10,), (30,)], "d int")
    out = run_contract(
        {"facts": facts, "dim": dim},
        {
            "facts": [
                {"type": "not_null", "columns": ["status"]},
                {"type": "unique", "keys": ["id"]},
                {"type": "accepted_values", "column": "status", "values": ["a", "b"]},
                {"type": "relationship", "column": "fk", "to_table": "dim", "to_column": "d"},
            ]
        },
    )
    got = {r["check"]: (r["n_violations"], r["passed"]) for r in out.collect()}
    assert got["not_null(status)"] == (1, False)
    assert got["unique(id)"] == (2, False)  # both rows of the dup key count
    assert got["accepted_values(status)"] == (1, False)  # 'zz'
    assert got["relationship(fk->dim.d)"] == (1, False)  # 40 orphaned


def test_run_contract_all_green(spark):
    from neotree_data_pipeline_kedro_spark.operators.validation import run_contract

    t = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    out = run_contract(
        {"t": t},
        {"t": [{"type": "unique", "keys": ["id"]},
               {"type": "not_null", "columns": ["id", "s"]}]},
    )
    assert all(r["passed"] for r in out.collect())


# ------------------------------------------------------------ cusum_integer
def test_cusum_integer_matches_manual_walk(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import cusum_integer

    xs = [5, 15, 25, 5, 30, 30]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)], "g bigint, rn bigint, x bigint"
    )
    out = cusum_integer(
        df, ["g"], "rn", "x", k_micro=10, h_micro=20, out_col="s", alarm_col="a"
    )
    got = [(r["s"], r["a"]) for r in out.orderBy("rn").collect()]
    s, want = 0, []
    for x in xs:
        s = max(0, s + x - 10)
        want.append((s, s > 20))
    assert got == want
    assert any(a for _, a in got)  # the drift at the tail alarms


# --------------------------------------------------------- observe metrics
def test_observe_metrics_on_write(spark):
    from pyspark.sql import Observation

    obs = Observation("quality")
    df = spark.range(0, 1000).select(
        F.col("id"), F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v")
    )
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("v").isNull().cast("int")).alias("null_v"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows"] == 1000 and got["null_v"] == 100


# ------------------------------------------------ scrub_duplicate_ngram_runs
def test_substring_scrub_masks_shared_runs_only(spark):
    import hashlib as hl

    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        scrub_duplicate_ngram_runs,
    )

    boiler = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-token window
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique tail one"),
            (2, "front matter here then " + boiler),
            (3, "totally unrelated text with no shared runs at all"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_masked"], r["clean_fp"])
        for r in scrub_duplicate_ngram_runs(docs, "doc_id", "text").collect()
    }
    masked = " ".join(["<DUP>"] * 8)
    assert got[1] == (8, hl.md5((masked + " unique tail one").encode()).hexdigest())
    assert got[2] == (
        8,
        hl.md5(("front matter here then " + masked).encode()).hexdigest(),
    )
    assert got[3][0] == 0  # untouched
    assert got[3][1] == hl.md5(
        b"totally unrelated text with no shared runs at all"
    ).hexdigest()


# ------------------------------------------------------------------- k_core
def _py_kcore(edges, k):
    import collections

    es = {tuple(sorted(e)) for e in edges}
    while True:
        deg = collections.Counter()
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return dict(deg)
        es = {e for e in es if drop.isdisjoint(e)}
        if not es:
            return {}


@pytest.mark.parametrize("k", [2, 3])
def test_k_core_matches_python_peel(spark, k):
    import random

    from neotree_data_pipeline_kedro_spark.operators.components import k_core

    rng = random.Random(11)
    edges = {(rng.randint(1, 30), rng.randint(1, 30)) for _ in range(80)}
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["degree"] for r in k_core(df, k=k).collect()}
    assert got == _py_kcore(edges, k)


def test_k_core_peels_pendant_chain(spark):
    from neotree_data_pipeline_kedro_spark.operators.components import k_core

    # triangle core + chain hanging off it: chain must peel away at k=2
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"] for r in k_core(df, k=2).collect()}
    assert got == {1, 2, 3}


# ----------------------------------------------------- rolling_zscore_outliers
def test_rolling_zscore_flags_spike_exactly(spark):
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        rolling_zscore_outliers,
    )

    xs = [100, 102, 98, 101, 99, 100, 103, 5000, 100, 101]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)], "g bigint, rn bigint, x bigint"
    )
    out = rolling_zscore_outliers(df, ["g"], ["rn"], "x", window=7, z=3)
    got = [r["is_outlier"] for r in out.orderBy("rn").collect()]
    assert got[:7] == [None] * 7  # warm-up baselines stay NULL
    assert got[7] is True  # 5000 vs the 7 rows strictly before it
    # 101 vs a baseline containing the spike: huge variance, not flagged
    assert got[8] is False
    for t in (7, 8):
        win = xs[t - 7 : t]  # baseline EXCLUDES the current row
        n, s = 7, sum(win)
        sq = sum(v * v for v in win)
        want = (xs[t] * n - s) ** 2 > 9 * (n * sq - s * s)
        assert got[t] == want
