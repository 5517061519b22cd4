"""The benchmark's workloads, their output checks and their metrics.

Every workload runs in one process on one ``session.get_spark()`` session,
one client, closed loop: an operation starts when the previous one ends.

* ``etl_backfill`` — one cron invocation into an empty warehouse: seeded
  session exports -> ``read_session_files`` -> ``Engine.run`` with every
  stage materialized into a parquet warehouse -> ``incremental_sink`` (the
  bronze sink) -> ``run_foreach_batch_rollup`` (a facility x month rollup
  over the sink).
* ``analyst_queries`` — eight TPC-H shapes and eight Neotree summary/BI
  queries of ``plans.queries.QUERIES`` over seeded tables, in a fixed
  order, each execution's rows collected to the client
  (``toPandas``).

A pass is one backfill or one execution of every query. The first pass
runs in a cold JVM, as a cron job or a dashboard refresh in a fresh
process does; passes repeat until ``--seconds`` have been measured, at
least one.

Tracing (``--trace 1``) wraps the package's boundaries from outside —
Engine stage methods, the operator functions the engine and the query
registry call, ``load_table``, ``localCheckpoint`` — records spans and
reads Spark's status store per action. Untraced runs patch nothing.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import os
import time
from collections import defaultdict

from . import gen
from .collect import SparkCounters, tree_cpu_s
from .trace import Tracer, layer_self_times

PKG = "neotree_data_pipeline_kedro_spark"
LAYERS = ("session", "sources", "operators", "plans", "streaming", "exec", "bench")

# Half of the 32 BI queries, so that a cold pass fits the run budget:
# TPC-H aggregation, multi-way join, outer-join and anti/semi-join shapes,
# and the Neotree summary, counts, lifecycle, rollup, cohort, dedup,
# fuzzy-match and sessionize queries.
ANALYST_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q9_product_profit", "q13_customer_order_distribution",
    "q18_large_volume_orders", "q21_waiting_supplier_blame",
    "sm_admissions_full", "sm_counts_full", "sm_all_lifecycle",
    "a2_monthly_indicator_rollup", "a13_cohort_retention", "d1_dedup_last_writer",
    "j1_j2_fuzzy_best_match", "w3_sessionize_date_change",
)
# Table scale for analyst_queries: 3k orders, 12k lineitems, 2k events.
# At this size a query's latency is mostly driver-side construction,
# Catalyst and per-job scheduling — the dashboard regime.
ANALYST_SF = 0.002

# etl_backfill size: 1,000 admissions (60% of them discharged in the same
# landing) in 4 export files. No traffic figure is behind it: a backfill
# costs ~40 Spark actions whatever its size (100 admissions took as long
# as 1,000), so the size only has to give every code path rows.
BACKFILL_ADMISSIONS = 1000
BACKFILL_FILES = 4
SINK_KEYS = ["uid", "scriptid"]

# Order-independent checksums of the backfill's warehouse tables for
# the default seed (0); any other seed is checked by the identities only.
PINNED = {
    "deduplicated": "fabce1c6b3e32e1d",
    "merged_all": "2283c8eab14af177",
}

ENGINE_STAGES = (
    "import_raw", "deduplicate", "tidy", "fix_records", "summary_tables",
    "join_tables", "union_views", "convenience_views", "summary_counts",
    "grant_privileges", "clean_for_research", "merge_all",
)

E2E = {
    "setup_s": "s",
    "cold_pass_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.py_worker_warm_s": "s",
    "sources.call_s": "s",
    "sources.json_input_bytes": "B",
    "operators.build_s": "s",
    "operators.checkpoints": "count",
    "plans.build_s": "s",
    "plans.plan_s": "s",
    "plans.build_jobs": "count",
    "plans.warehouse_bytes_written": "B",
    "plans.warehouse_bytes_per_input_byte": "ratio",
    "streaming.appended_rows": "count",
    "streaming.rollup_state_bytes": "B",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.input_bytes": "B",
    "exec.output_bytes": "B",
    "exec.failed_tasks": "count",
    "exec.utilization": "%",
    **{f"{layer}.self_pct": "%" for layer in LAYERS},
    "trace.overhead_s": "s",
    "trace.cold_pass_s": "s",
    "host.loadavg_before": "load",
    "host.loadavg_after": "load",
    "host.peak_rss_mb": "MB",
    "host.cold_pass_cpu_s": "s",
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Run:
    """One workload run: the session, the tracer, the Spark counters and
    everything the report needs."""

    def __init__(self, spark, tracer: Tracer, cpus: int, started: float | None = None):
        self.spark = spark
        self.started = time.perf_counter() if started is None else started  # process start
        self.tracer = tracer
        self.cpus = cpus
        self.counters = SparkCounters(spark.sparkContext) if tracer.enabled else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.sums: dict[str, float] = defaultdict(float)
        self.records: list[dict] = []  # one per operation, for the run file
        self.passes: list[float] = []  # pass latencies; the first is cold
        self.pass_cpu: list[float] = []  # CPU seconds of the process tree per pass
        self._restore: list = []

    # -- failures ----------------------------------------------------------
    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {why}"[:500])

    def attempt(self, what: str, fn):
        """Run ``fn`` as one attempted operation; an exception counts as a
        failed operation and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - every error is a failed op
            self.fail(what, f"{type(exc).__name__}: {exc}")
            return None

    # -- actions -------------------------------------------------------------
    def execute(self, name: str, df, action):
        """Return ``action(df)``; traced, force the executed plan first
        (plan time) and read the Spark counters of the jobs it ran."""
        tr = self.tracer
        if not tr.enabled:
            return action(df)
        with tr.span(f"{name}.plan", "plans") as s:
            df._jdf.queryExecution().executedPlan()
        self.sums["plans.plan_s"] += s.end - s.start
        return self.counted(f"{name}.exec", "exec", lambda: action(df))[0]

    def counted(self, name: str, layer: str, fn):
        """Traced only: ``(fn(), counters)`` — ``fn`` runs under a span and
        a job group, and the Spark counters of the jobs it started are added
        to the sums together with its wall time, so that
        ``exec.utilization`` divides task time by the wall time of the same
        calls."""
        tr = self.tracer
        t = time.perf_counter()
        self.counters.begin(name)
        tr.overhead_s += time.perf_counter() - t
        with tr.span(name, layer) as s:
            out = fn()
        t = time.perf_counter()
        c = self.counters.end()
        tr.overhead_s += time.perf_counter() - t
        s.attrs.update(c)
        self.sums["exec.wall_s"] += s.end - s.start
        self.add_counters(c)
        return out, c

    def add_counters(self, c: dict[str, float]) -> None:
        for k, v in c.items():
            self.sums[f"exec.{k}"] += v

    # -- tracing patches -----------------------------------------------------
    def patch(self, owner, attr: str, name: str, layer: str, key: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording a span (and
        adding its duration to ``sums[key]``) for the rest of the run."""
        orig = getattr(owner, attr)
        tr, sums = self.tracer, self.sums

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tr.span(name, layer) as s:
                out = orig(*a, **kw)
            sums[key] += s.end - s.start
            return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def patch_calls(self, module) -> None:
        """Wrap every function ``module`` imported from the operators and
        sources layers (driver-side work the plans layer delegates)."""
        for attr, fn in list(vars(module).items()):
            if not inspect.isfunction(fn):
                continue
            for layer, key in (("operators", "operators.build_s"),
                               ("sources", "sources.call_s")):
                if fn.__module__.startswith(f"{PKG}.{layer}."):
                    self.patch(module, attr, f"{layer}.{attr}", layer, key)

    def count_checkpoints(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        orig = DataFrame.localCheckpoint
        sums = self.sums

        @functools.wraps(orig)
        def counted(df, *a, **kw):
            sums["operators.checkpoints"] += 1
            return orig(df, *a, **kw)

        DataFrame.localCheckpoint = counted
        self._restore.append((DataFrame, "localCheckpoint", orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# ----------------------------------------------------------- analyst queries


def analyst_queries(run: Run, seed: int, seconds: float, work: str) -> None:
    from neotree_data_pipeline_kedro_spark.plans import queries as Q

    spark, tr = run.spark, run.tracer
    data = os.path.join(work, "tables")
    gen.write_tables(data, seed, ANALYST_SF)
    if tr.enabled:
        run.patch_calls(Q)
        run.count_checkpoints()

    results = {}

    def one(name):
        t0 = time.perf_counter()
        with tr.span(f"query.{name}", "plans"):
            j0 = run.counters.next_job_id() if tr.enabled else 0
            with tr.span("plans.query.build", "plans") as s:
                df = Q.QUERIES[name](spark, data)
            if tr.enabled:
                run.sums["plans.build_s"] += s.end - s.start
                run.sums["plans.build_jobs"] += run.counters.next_job_id() - j0
            # the client receives the rows, as a dashboard does
            results[name] = run.execute("plans.query", df, lambda d: d.toPandas())
        return time.perf_counter() - t0

    # A pass runs every query once, always in the same order: the first
    # query pays the session's first-SQL-job warm-up, and which query that
    # is moved a cold pass by ±15% when the order was shuffled. The
    # per-query latencies go to the run record.
    deadline = time.perf_counter() + seconds
    while not run.passes or time.perf_counter() < deadline:
        c_pass, t_pass = tree_cpu_s(os.getpid()), time.perf_counter()
        for name in ANALYST_QUERIES:
            dt = run.attempt(name, lambda name=name: one(name))
            if dt is not None:
                run.records.append({"op": name, "s": dt, "pass": len(run.passes)})
        run.passes.append(time.perf_counter() - t_pass)
        run.pass_cpu.append(tree_cpu_s(os.getpid()) - c_pass)
    run.unpatch()
    with tr.span("checks", "check"):
        check_queries(run, Q.ORACLE_SQL, data, results)


def check_queries(run: Run, oracle: dict[str, str], data: str, results: dict) -> None:
    """Untimed: each query's last result against its DuckDB oracle under
    the canon of ``tools/oracle_check`` (row count, column set, hash)."""
    import duckdb

    from neotree_data_pipeline_kedro_spark.sources.tables import TABLES
    from tools.oracle_check import canon_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, t)}.parquet')"
            )
        for name, got in sorted(results.items()):
            try:
                want = con.execute(oracle[name]).fetchdf()
                ok = (
                    len(got) == len(want)
                    and sorted(got.columns) == sorted(want.columns)
                    and canon_hash(got) == canon_hash(want)
                )
            except Exception as exc:  # noqa: BLE001
                run.fail(f"check {name}", f"{type(exc).__name__}: {exc}")
                continue
            if not ok:
                run.fail(f"check {name}", f"rows {len(got)} vs oracle {len(want)}")
    finally:
        con.close()


# -------------------------------------------------------------- etl_backfill


def table_checksum(df) -> str:
    """Order-independent checksum of a frame: sum of per-row xxhash64 over
    every column except surrogate ids and source paths (which depend on
    the checkout location)."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in df.columns if c not in ("id", "src_file"))
    row = F.xxhash64(*[F.col(f"`{c}`") for c in cols]).cast("decimal(38,0)")
    total = df.agg(F.sum(row).alias("s"), F.count("*").alias("n")).collect()[0]
    return hashlib.md5(f"{total.s}/{total.n}/{','.join(cols)}".encode()).hexdigest()[:16]


def etl_backfill(run: Run, seed: int, seconds: float, work: str) -> None:
    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.plans import pipeline as P
    from neotree_data_pipeline_kedro_spark.sources.sessions import read_session_files
    from neotree_data_pipeline_kedro_spark.streaming.incremental import (
        incremental_sink,
        run_foreach_batch_rollup,
    )

    spark, tr = run.spark, run.tracer
    wh = [""]  # the current pass's warehouse

    def materialize(name, df):
        # the CLI's --out hook: every stage to parquet, read back downstream
        path = os.path.join(wh[0], name)
        run.execute(
            f"plans.engine.{name}", df, lambda d: d.write.mode("overwrite").parquet(path)
        )
        if tr.enabled:
            run.sums["plans.warehouse_bytes_written"] += dir_bytes(path)
        return spark.read.parquet(path)

    config = P.EngineConfig(
        scripts={gen.ADM_SCRIPT: "admissions", gen.DIS_SCRIPT: "discharges"},
        facility_map={gen.ADM_SCRIPT: gen.FACILITY, gen.DIS_SCRIPT: gen.FACILITY},
        field_info=gen.FIELD_INFO,
    )
    eng = P.Engine(config, materialize=materialize)
    if tr.enabled:
        run.patch_calls(P)
        run.count_checkpoints()
        for m in ENGINE_STAGES:
            run.patch(eng, m, f"plans.engine.{m}.build", "plans", "plans.build_s")
    # every pass backfills the same landing into a warehouse of its own
    batch = gen.backfill(seed, BACKFILL_ADMISSIONS, BACKFILL_FILES)
    landing = os.path.join(work, "landing")
    gen.write_batch(batch, landing)

    def backfill(p: str) -> float:
        sink, rollup = os.path.join(p, "bronze_sink"), os.path.join(p, "rollup")
        t0 = time.perf_counter()
        with tr.span("sources.read_session_files", "sources") as s:
            incoming = read_session_files(spark, os.path.join(landing, "*.json"))
        if tr.enabled:
            run.sums["sources.call_s"] += s.end - s.start
        with tr.span("plans.engine.run", "plans"):
            out = eng.run(incoming)
        n = stream_call(run, "streaming.incremental_sink", lambda: incremental_sink(
            spark, out["deduplicated"], sink, SINK_KEYS))
        run.sums["streaming.appended_rows"] += n
        if n != len(batch.keys):
            run.fail("backfill", f"sink appended {n}, expected {len(batch.keys)}")
        sch = spark.read.parquet(sink).schema
        stream_call(run, "streaming.rollup", lambda: run_foreach_batch_rollup(
            spark, sink, sch, rollup, os.path.join(p, "rollup_ckpt"), ["facility", "month"],
            {"uid": "count"}, max_files_per_trigger=None,
            transform=lambda d: d.withColumn(
                "month", F.date_trunc("month", F.col("ingested_at")))))
        return time.perf_counter() - t0

    done: list[str] = []
    deadline = time.perf_counter() + seconds
    while not run.passes or time.perf_counter() < deadline:
        k = len(run.passes)
        p = os.path.join(work, f"p{k}")
        wh[0] = os.path.join(p, "warehouse")
        run.sums["sources.json_input_bytes"] += batch.bytes
        c_pass = tree_cpu_s(os.getpid())
        with tr.span(f"backfill.{k}", "bench"):
            dt = run.attempt(f"backfill {k}", lambda p=p: backfill(p))
        if dt is None:
            break  # counted; its warehouse is not checked
        run.records.append({"op": f"backfill {k}", "s": dt, "pass": k})
        run.passes.append(dt)
        run.pass_cpu.append(tree_cpu_s(os.getpid()) - c_pass)
        done.append(p)
    run.unpatch()
    if done:
        run.sums["streaming.rollup_state_bytes"] = dir_bytes(os.path.join(done[0], "rollup"))
    if run.sums["sources.json_input_bytes"]:
        run.sums["plans.warehouse_bytes_per_input_byte"] = (
            run.sums["plans.warehouse_bytes_written"] / run.sums["sources.json_input_bytes"]
        )
    with tr.span("checks", "check"):
        for k, p in enumerate(done):
            check_etl(run, seed if k == 0 else None, p, batch, F)


def stream_call(run: Run, name: str, fn):
    """A streaming-layer call; traced, its Spark jobs are counted too."""
    if not run.tracer.enabled:
        return fn()
    return run.counted(name, "streaming", fn)[0]


def check_etl(run: Run, seed, p: str, batch, F) -> None:
    """Untimed conservation identities of one backfill against the
    generator's truth, plus the pinned checksums for the default seed."""
    spark = run.spark
    wh = os.path.join(p, "warehouse")

    def expect(what, got, want):
        if got != want:
            run.fail(f"check {what}", f"got {got}, expected {want}")

    def table(name):
        return spark.read.parquet(os.path.join(wh, name))

    try:
        expect("bronze", table("bronze").count(), batch.sessions)
        expect("deduplicated", table("deduplicated").count(), len(batch.keys))
        n_sink = spark.read.parquet(os.path.join(p, "bronze_sink")).count()
        expect("sink rows", n_sink, len(batch.keys))
        r = table("merged_all").agg(
            F.sum(F.col("has_discharge").cast("int")).alias("dis"),
            F.countDistinct(F.when(F.col("has_discharge"), F.col("uid"))).alias("dis_u"),
            F.sum(F.col("has_admission").cast("int")).alias("adm"),
            F.countDistinct(F.when(F.col("has_admission"), F.col("uid"))).alias("adm_u"),
        ).collect()[0]
        expect("ALL discharges", r.dis, batch.discharges)
        expect("ALL discharges once", r.dis_u, r.dis)
        expect("ALL admissions", r.adm, batch.admissions)
        expect("ALL admissions once", r.adm_u, r.adm)
        rolled = spark.read.parquet(os.path.join(p, "rollup")).agg(
            F.sum("count_uid")).collect()[0][0]
        expect("rollup rows", rolled, n_sink)
        if seed == 0:
            for name, want in PINNED.items():
                expect(f"checksum {name}", table_checksum(table(name)), want)
    except Exception as exc:  # noqa: BLE001
        run.fail("check etl", f"{type(exc).__name__}: {exc}")


WORKLOADS = {"etl_backfill": etl_backfill, "analyst_queries": analyst_queries}


# ------------------------------------------------------------------ report


def report(run: Run, setup: dict[str, float], rss_bytes: int,
           load: tuple[float, float]) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples) for every metric of the run's mode."""
    tr = run.tracer
    if not tr.enabled:
        vals = {
            "setup_s": (setup["setup_s"], 1),
            "cold_pass_s": (run.passes[0] if run.passes else 0.0, min(len(run.passes), 1)),
        }
        return {k: (v, E2E[k], n) for k, (v, n) in vals.items()}
    s = dict(run.sums)
    s["session.start_s"] = setup["start_s"]
    s["session.py_worker_warm_s"] = setup["py_worker_warm_s"]
    s["exec.utilization"] = 100.0 * s.get("exec.task_run_s", 0.0) / (
        max(s.get("exec.wall_s", 0.0), 1e-9) * run.cpus
    )
    selfs = layer_self_times(tr.spans)
    # shares of the traced run without the untimed output checks
    total = sum(selfs.get(layer, 0.0) for layer in LAYERS) or 1.0
    for layer in LAYERS:
        s[f"{layer}.self_pct"] = 100.0 * selfs.get(layer, 0.0) / total
    s["trace.overhead_s"] = tr.overhead_s
    s["trace.cold_pass_s"] = run.passes[0] if run.passes else 0.0
    s["host.loadavg_before"], s["host.loadavg_after"] = load
    s["host.peak_rss_mb"] = rss_bytes / 2**20
    s["host.cold_pass_cpu_s"] = run.pass_cpu[0] if run.pass_cpu else 0.0
    return {
        k: (float(s.get(k, 0.0)), unit, 1) for k, unit in PER_LAYER.items()
    }

