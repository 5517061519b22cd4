"""End-to-end engine: the 14-stage DAG (SURVEY.md §1 topology / §3.1).

Mirrors the reference's Kedro pipeline (src/data_pipeline/pipelines/
data_engineering/pipeline.py:21-40, node wiring nodes.py:21-97):

    import_raw_json_files -> deduplicate_data -> tidy_data
        -> manually_fix_admissions / manually_fix_discharges
        -> create_summary_tables / join_tables
        -> union_views / convenience_views / summary_discharge_diagnosis /
           summary_baseline
        -> summary_counts -> grant_privileges -> clean_derived_data
        -> merge_raw_data

Where the reference passes status dicts between OS processes and keeps all
state in Postgres, here every stage is a pure ``DataFrame -> DataFrame``
function. With ``--parallel`` the reference runs its DAG under Kedro's
ParallelRunner (cli.py:147,193); the twin is ``Engine.run``, which starts
each stage on its own thread as soon as the stages it reads are
materialized, so independent stages' Spark jobs share the cores under
Spark's FIFO scheduler. Stage boundaries survive as the keys of the
returned dict (and the optional per-stage ``materialize`` hook) so each
intermediate remains independently inspectable, preserving the reference's
derived-schema contract.

Per-stage semantics live in the operator modules (cited there); this file
only wires them. The reference's passes over several episodes of one uid
(the D8 uid repair, the J2 best match, ``merge_all``'s admission dedup)
are not wired: the Engine's key leaves them nothing to do (see ``Engine``).
"""

from __future__ import annotations

import logging
import queue
import threading
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from functools import partial
from typing import Any

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.buckets import bw_group, gest_group, temp_group
from ..functions.neolab import canonicalize_organism
from ..functions.timestamps import parse_timestamp_multi
from ..operators.dedup import dedupe_keep_latest
from ..operators.joins import tiered_asof_assignment
from ..operators.labels import repair_dataframe_labels
from ..operators.redact import redact
from ..operators.tidy import (
    clean_table_projection,
    normalize_column_names,
    prune_junk_columns,
)
from ..operators.sinks import reconcile_update
from ..sources.sessions import entry_rows, explode_mcl, repair_uid

log = logging.getLogger(__name__)

# an Engine.run stage: (the stages it reads, its build)
_Stage = tuple[tuple[str, ...], Callable[[], DataFrame]]

# old->new field-key renames (tidy_...mcl_tables.py:414-422,510-518)
KEY_RENAMES = {
    "BW": "BirthWeight",
    "Conv": "Convulsions",
    "AW": "AdmissionWeight",
    "BSmmol": "BloodSugarmmol",
    "BWTDis": "BirthWeight",
    "BirthDateDis": "DOBTOB",
    "Delivery": "ModeDelivery",
    "NNUAdmTemp": "Temperature",
    "GestBirth": "Gestation",
    "PresComp": "AdmReason",
    "ROMlength": "ROMLength",
}


@dataclass
class EngineConfig:
    """Driver-side configuration (the reference's conf/ directory).

    ``scripts``: scriptid -> logical script name (catalog.py:60-123 routing).
    ``facility_map``: scriptid-or-code -> facility name (hospitals.ini CASE,
    catalog.py:69-95).
    ``field_info``: per-script field metadata registry (S9) keyed by script
    NAME, feeding label repair / clean projection / redaction.
    ``pivot_keys``: per script name, the field keys to widen into
    ``Key.value``/``Key.label`` pairs. At scale this MUST come from the
    registry (a distinct-scan over 100 TB to discover keys is wrong); when
    absent and ``field_info`` has the script, its keys are used.
    """

    scripts: dict[str, str]
    facility_map: dict[str, str] = field(default_factory=dict)
    field_info: dict[str, dict[str, Any]] = field(default_factory=dict)
    pivot_keys: dict[str, Sequence[str]] = field(default_factory=dict)


def _lit_map(d: dict[str, str]) -> Column:
    from itertools import chain

    if not d:
        # typed, so a lookup in it is a null string
        return F.create_map().cast("map<string,string>")
    return F.create_map(
        *chain.from_iterable((F.lit(k), F.lit(v)) for k, v in d.items())
    )


class Engine:
    """``Engine(config).run(spark_sessions_df)`` -> dict of stage outputs.

    ``materialize`` (optional): called as ``materialize(name, df)`` once per
    stage — the warehouse-write hook (parquet/Delta path or temp view); its
    return value (``df`` when it returns None) is what later stages read.
    By default stages stay lazy.

    Each script's table holds one row per uid: ``deduplicate`` keeps the
    latest session per (uid, scriptid), so there is one admission and at
    most one discharge per uid. The reference keeps a session per
    (scriptid, uid, unique_key) and needs passes that resolve several
    episodes of a uid; under this key they change no row, so no stage runs
    them. Their operators stay for the registry: ``repair_duplicate_uids``
    (D8) in ``d8_duplicate_uid_repair`` and ``best_match_join`` (J2) in
    ``j1_j2_fuzzy_best_match``. Two script ids that map to one table name
    are rejected.

    ``run`` builds each stage on its own thread, started as soon as every
    stage it reads has returned from ``materialize``: ``bronze`` ->
    ``deduplicated`` -> each script's tidy table and its ``_mcl`` table ->
    ``<script>_fixed``; ``admissions_fixed`` -> ``summary_admissions``;
    both fixed tables -> ``joined`` and ``merged_all``; ``joined`` ->
    ``union_view`` and ``convenience`` -> ``summary_counts`` and
    ``clean_admissions``. A stage's Spark jobs carry the job description
    ``engine.<stage>`` and the caller's job group. ``materialize`` may
    therefore be called concurrently from stage threads and must be
    thread-safe. ``run`` returns after every stage's hook has returned;
    when a stage raises, no stage that reads it starts, and ``run`` raises
    that error once the running stages have finished.
    """

    def __init__(
        self,
        config: EngineConfig,
        materialize: Callable[[str, DataFrame], DataFrame] | None = None,
    ):
        tables: dict[str, str] = {}
        for scriptid, name in config.scripts.items():
            if name in tables:
                raise ValueError(
                    f"Engine: script ids {tables[name]!r} and {scriptid!r} "
                    f"both map to the table {name!r}; map each to its own table"
                )
            tables[name] = scriptid
        for kind, per_script in (
            ("field_info", config.field_info),
            ("pivot_keys", config.pivot_keys),
        ):
            for name, keys in per_script.items():
                for key in keys:
                    if key in KEY_RENAMES:
                        raise ValueError(
                            f"Engine: {kind}[{name!r}] names the key {key!r}, "
                            f"which tidy renames to {KEY_RENAMES[key]!r}; "
                            f"name {KEY_RENAMES[key]!r} instead"
                        )
        self.config = config
        self._mat = materialize

    def _out(self, name: str, df: DataFrame) -> DataFrame:
        if self._mat is not None:
            df = self._mat(name, df) or df
        return df

    # -- stage 1: import_raw_json_files (import_raw_jsons.py:31-215) -------
    def import_raw(self, sessions: DataFrame) -> DataFrame:
        """Bronze: extract the ``entries`` payload from the envelope, repair
        the uid from it (S1), tag the facility (P5)."""
        return (
            sessions.withColumn(
                "entries", F.get_json_object(F.col("data"), "$.entries")
            )
            .withColumn("uid", repair_uid(F.col("uid"), F.col("entries")))
            .withColumn(
                "facility",
                _lit_map(self.config.facility_map)[F.col("scriptid")],
            )
        )

    # -- stage 2: deduplicate_data (step_1; assorted_queries.py:62-289) ----
    def deduplicate(self, bronze: DataFrame) -> DataFrame:
        """Last-upload-wins per (uid, scriptid): MAX(id) kept (D1)."""
        return dedupe_keep_latest(
            bronze.filter(F.col("uid").isNotNull()),
            ["uid", "scriptid"],
            [F.desc("id")],
        )

    # -- stage 3: tidy_data (step_2; tidy_...mcl_tables.py:823-961) --------
    def tidy(self, deduped: DataFrame) -> dict[str, DataFrame]:
        """Per-script wide tables: entry restructuring -> key renames ->
        pivot to ``Key.value``/``Key.label`` pairs + MCL exploded table."""
        out: dict[str, DataFrame] = {}
        rename = _lit_map(KEY_RENAMES)
        for scriptid, name in self.config.scripts.items():
            sess = deduped.filter(F.col("scriptid") == scriptid).select(
                "id", "uid", "facility", "ingested_at", "entries"
            )
            rows = entry_rows(sess, id_cols=("id", "uid", "facility", "ingested_at"))
            rows = rows.withColumn(
                "key", F.coalesce(rename[F.col("key")], F.col("key"))
            )
            keys = list(
                self.config.pivot_keys.get(name)
                or self.config.field_info.get(name, {}).keys()
            )
            if not keys:
                # an explicit-values pivot with no values would silently
                # produce an id-only frame; the reference always has script
                # metadata (tidy_...mcl_tables.py:823-961), so a script with
                # neither pivot_keys nor field_info is a config error
                raise ValueError(
                    f"Engine.tidy: script {name!r} ({scriptid}) has neither "
                    "pivot_keys nor field_info — declare its fields in "
                    "EngineConfig (an empty pivot would drop every entry)"
                )
            wide = (
                rows.groupBy("id", "uid", "facility", "ingested_at")
                .pivot("key", keys)
                .agg(
                    F.first("value", ignorenulls=True).alias("value"),
                    F.first("label", ignorenulls=True).alias("label"),
                )
            )
            # pivot names columns {key}_value/{key}_label -> Key.value pairs
            for k in keys:
                wide = wide.withColumnRenamed(f"{k}_value", f"{k}.value")
                wide = wide.withColumnRenamed(f"{k}_label", f"{k}.label")
            out[name] = wide
            out[f"{name}_mcl"] = explode_mcl(
                rows, id_cols=("id", "uid", "facility")
            )
        return out

    # -- stages 4/5: manual fixes (step_3) ---------------------------------
    def fix_records(self, wide: DataFrame, script: str) -> DataFrame:
        """Label repair from metadata + organism canonicalization when
        neolab columns are present + the parsed ``admission_ts`` that
        ``summary_tables`` and ``merge_all`` read."""
        fi = self.config.field_info.get(script, {})
        fixed = repair_dataframe_labels(wide, fi) if fi else wide
        if "Org1.value" in fixed.columns and "OtherOrg1.value" in fixed.columns:
            fv, fl = canonicalize_organism(
                F.col("`Org1.value`"),
                F.col("`Org1.label`"),
                F.col("`OtherOrg1.value`"),
            )
            fixed = fixed.withColumn("Org1.value", fv).withColumn("Org1.label", fl)
        if "DateTimeAdmission.value" in fixed.columns:
            fixed = fixed.withColumn(
                "admission_ts",
                parse_timestamp_multi(F.col("`DateTimeAdmission.value`")),
            )
        return fixed

    # -- stage 6: create_summary_tables (step_2 summaries) -----------------
    def summary_tables(self, adm: DataFrame) -> DataFrame:
        """Monthly per-facility admission rollup (A2 family)."""
        ts = (
            F.col("admission_ts")
            if "admission_ts" in adm.columns
            else F.col("ingested_at")
        )
        return (
            adm.withColumn("month", F.date_trunc("month", ts))
            .groupBy("facility", "month")
            .agg(F.count("*").alias("admissions"))
        )

    # -- stage 7: join_tables (step_4; create_joined_table_and_derived_
    # columns.py:268-394) --------------------------------------------------
    def join_tables(self, adm: DataFrame, dis: DataFrame) -> DataFrame:
        """Admission->discharge left join on uid (J1), discharge columns
        prefixed ``dis_``. A uid has at most one discharge (see ``Engine``),
        so no fan-out is left for the reference's match score to resolve
        (J2, resolve_duplicate_matches)."""
        d = dis.select(
            "uid",
            *[
                F.col(f"`{c}`").alias(f"dis_{c}")
                for c in dis.columns
                if c != "uid"
            ],
        )
        return adm.join(d, ["uid"], "left")

    # -- stage 8: union_views (step_4; create_union_views.py) --------------
    def union_views(self, joined: DataFrame) -> DataFrame:
        return normalize_column_names(
            prune_junk_columns(joined, value_label_only=False)
        )

    # -- stage 9: convenience_views (step_4; create_convenience_views_sql) -
    def convenience_views(self, joined: DataFrame) -> DataFrame:
        """Derived bucket/indicator columns (§2.8 CASE ladders)."""
        out = joined
        if "Gestation.value" in out.columns:
            out = out.withColumn(
                "GestGroup",
                gest_group(F.col("`Gestation.value`").try_cast("double")),
            )
        if "BirthWeight.value" in out.columns:
            out = out.withColumn(
                "BWGroup",
                bw_group(F.col("`BirthWeight.value`").try_cast("double")),
            )
        if "Temperature.value" in out.columns:
            out = out.withColumn(
                "TempGroup",
                temp_group(F.col("`Temperature.value`").try_cast("double")),
            )
        return out

    # -- stage 10: summary_counts (step_4) ---------------------------------
    def summary_counts(self, conv: DataFrame) -> DataFrame:
        return conv.groupBy("facility").agg(
            F.count("*").alias("n"),
            F.countDistinct("uid").alias("patients"),
        )

    # -- stage 11: grant_privileges (step_5) -------------------------------
    def grant_privileges(self) -> None:
        """S10 stub: Postgres GRANT loops have no Spark twin — table ACLs
        belong to the warehouse catalog (Unity/Hive). Logged no-op."""
        log.info("grant_privileges: no-op (warehouse ACLs are external)")

    # -- stage 12: clean_derived_data (step_6; data_clean_up) --------------
    def clean_for_research(self, conv: DataFrame, script: str) -> DataFrame:
        """Redact confidential fields then project the clean-table
        lowercase convention."""
        fi = self.config.field_info.get(script, {})
        meta_conf = [k for k, f in fi.items() if f.get("confidential")]
        red = redact(conv, metadata_confidential=meta_conf)
        return clean_table_projection(red, fi or None)

    # -- stage 13/14: merge_raw_data (step_7; merge_all.py:143-533) --------
    def merge_all(self, adm: DataFrame, dis: DataFrame) -> DataFrame:
        """Merged ALL table: the greedy tiered 1:1 assignment (J3b,
        merge_all.py:343-470) pairs each discharge with a free admission;
        matched pairs merge with discharge columns overwriting admission
        columns of the same name (merge_all.py:452 ``{**adm, **dis}``);
        leftovers keep their side; every row carries
        has_admission/has_discharge/is_closed/match_status
        (merge_all.py:485-510). The reference's admission dedup on (uid,
        facility, admission datetime) (merge_all.py:281-287) keeps every
        row under the Engine's key and is not run."""

        def num(df: DataFrame, names: Sequence[str]) -> Column:
            for n in names:
                if n in df.columns:
                    return F.col(f"`{n}`").try_cast("double")
            return F.lit(None).cast("double")

        def ts_of(df: DataFrame, names: Sequence[str]) -> Column:
            parts = [
                parse_timestamp_multi(F.col(f"`{n}`").cast("string"))
                for n in names
                if n in df.columns
            ]
            if not parts:
                return F.lit(None).cast("timestamp")
            return F.coalesce(*parts) if len(parts) > 1 else parts[0]

        adm_ts = (
            F.col("admission_ts")
            if "admission_ts" in adm.columns
            else ts_of(adm, ["DateTimeAdmission.value"])
        )
        a_r = adm.select(
            "uid",
            "facility",
            F.col("id").alias("arid"),
            adm_ts.alias("ats"),
            num(adm, ["OFC.value"]).alias("ofc"),
            num(adm, ["BirthWeight.value"]).alias("bw"),
        )
        d_r = dis.select(
            "uid",
            "facility",
            F.col("id").alias("drid"),
            ts_of(dis, ["DateTimeDischarge.value", "DateTimeDeath.value"]).alias(
                "dts"
            ),
            num(dis, ["OFCDis.value", "OFC.value"]).alias("ofc"),
            num(dis, ["BirthWeight.value_dis", "BirthWeight.value"]).alias("bw"),
        )
        asg = tiered_asof_assignment(
            a_r, d_r, adm_ts="ats", dis_ts="dts", adm_id="arid", dis_id="drid"
        )

        adm_cols = [c for c in adm.columns if c not in ("uid", "facility")]
        dis_cols = [c for c in dis.columns if c not in ("uid", "facility")]
        a_pay = adm.select(
            F.col("uid").alias("__a_uid"),
            F.col("facility").alias("__a_facility"),
            F.col("id").alias("__arid"),
            *[F.col(f"`{c}`").alias(f"__a_{c}") for c in adm_cols],
        )
        d_pay = dis.select(
            F.col("id").alias("__drid"),
            *[F.col(f"`{c}`").alias(f"__d_{c}") for c in dis_cols],
        )
        # one read of the assignment: every discharge carries its pick (or
        # none), the full outer join adds the admissions no discharge took
        rows = asg.join(
            a_pay, F.col("admission_rid") == F.col("__arid"), "full_outer"
        ).join(d_pay, F.col("discharge_rid") == F.col("__drid"), "left")
        has_adm = F.col("__arid").isNotNull()
        has_dis = F.col("__drid").isNotNull()

        def merged(c: str) -> Column:
            # a matched discharge overwrites the admission column of the
            # same name, nulls included (merge_all.py:452 {**adm, **dis})
            if c not in dis_cols:
                return F.col(f"`__a_{c}`")
            if c not in adm_cols:
                return F.col(f"`__d_{c}`")
            return F.when(has_dis, F.col(f"`__d_{c}`")).otherwise(
                F.col(f"`__a_{c}`")
            )

        return rows.select(
            F.coalesce("uid", "__a_uid").alias("uid"),
            F.coalesce("facility", "__a_facility").alias("facility"),
            F.coalesce("match_status", F.lit("unmatched_admission")).alias(
                "match_status"
            ),
            *[merged(c).alias(c) for c in dict.fromkeys(adm_cols + dis_cols)],
            has_adm.alias("has_admission"),
            has_dis.alias("has_discharge"),
            (has_adm & has_dis).alias("is_closed"),
        )

    # -- incremental reconcile (J7; sql_functions.py:1960-2160) ------------
    def reconcile(
        self,
        all_table: DataFrame,
        new_adm: DataFrame | None = None,
        new_dis: DataFrame | None = None,
    ) -> DataFrame:
        """Complete open one-sided rows of the ALL table from newly arrived
        rows of the other side: admission-only rows take the first matching
        new discharge (and close), discharge-only rows the first matching
        new admission — the reference's update_has_admission_to_is_closed
        pair of UPDATE passes."""
        out = all_table
        if new_dis is not None:
            out = reconcile_update(
                out, new_dis, "has_admission", "has_discharge", order=[F.asc("id")]
            )
        if new_adm is not None:
            out = reconcile_update(
                out, new_adm, "has_discharge", "has_admission", order=[F.asc("id")]
            )
        return out

    # -- composition -------------------------------------------------------
    def run(self, sessions: DataFrame) -> dict[str, DataFrame]:
        """Build every stage and hand it to ``materialize``, independent
        stages concurrently (see the class docstring)."""
        names = list(self.config.scripts.values())
        adm_name = names[0]
        dis_name = names[1] if len(names) > 1 else None
        out: dict[str, DataFrame] = {}
        tidy: dict[str, DataFrame] = {}
        tidy_lock = threading.Lock()

        def tidied(name: str) -> DataFrame:
            # every tidy output is its own stage; they share one build
            with tidy_lock:
                if not tidy:
                    tidy.update(self.tidy(out["deduplicated"]))
            return tidy[name]

        # stage -> (the stages it reads, its build). A build reads what
        # _out returned for its inputs (the warehouse read-back when
        # materialized), so no stage re-derives its inputs from a lazy plan.
        fixed = ("admissions_fixed",) + (("discharges_fixed",) if dis_name else ())
        stages: dict[str, _Stage] = {
            "bronze": ((), lambda: self.import_raw(sessions)),
            "deduplicated": (("bronze",), lambda: self.deduplicate(out["bronze"])),
        }
        for name in names:
            for t in (name, f"{name}_mcl"):
                stages[t] = (("deduplicated",), partial(tidied, t))
        stages["admissions_fixed"] = (
            (adm_name,), lambda: self.fix_records(out[adm_name], adm_name)
        )
        if dis_name:
            stages["discharges_fixed"] = (
                (dis_name,), lambda: self.fix_records(out[dis_name], dis_name)
            )
        stages["summary_admissions"] = (
            ("admissions_fixed",),
            lambda: self.summary_tables(out["admissions_fixed"]),
        )
        stages["joined"] = (
            fixed,
            lambda: self.join_tables(out["admissions_fixed"], out["discharges_fixed"])
            if dis_name
            else out["admissions_fixed"],
        )
        stages["union_view"] = (("joined",), lambda: self.union_views(out["joined"]))
        stages["convenience"] = (
            ("joined",), lambda: self.convenience_views(out["joined"])
        )
        stages["summary_counts"] = (
            ("convenience",), lambda: self.summary_counts(out["convenience"])
        )
        stages["clean_admissions"] = (
            ("convenience",),
            lambda: self.clean_for_research(out["convenience"], adm_name),
        )
        if dis_name:
            stages["merged_all"] = (
                fixed,
                lambda: self.merge_all(out["admissions_fixed"], out["discharges_fixed"]),
            )
        self._run_stages(sessions.sparkSession, stages, out)
        self.grant_privileges()
        return {name: out[name] for name in stages}

    def _run_stages(
        self,
        spark: SparkSession,
        stages: dict[str, _Stage],
        out: dict[str, DataFrame],
    ) -> None:
        """Start each stage on its own thread once every stage it reads is
        in ``out``; put what ``_out`` returned into ``out``. After a stage
        fails, start nothing more, wait for the running stages and raise
        the first error."""
        sc = spark.sparkContext
        done: queue.SimpleQueue = queue.SimpleQueue()

        def stage(name: str, build: Callable[[], DataFrame]) -> None:
            try:
                # a description, not a job group: the caller's group stays
                sc.setJobDescription(f"engine.{name}")
                out[name] = self._out(name, build())
                done.put((name, None))
            except BaseException as exc:  # re-raised by the scheduling thread
                done.put((name, exc))

        waiting, running = dict(stages), {}
        error: BaseException | None = None
        while True:
            if error is None:
                for name, (inputs, build) in list(waiting.items()):
                    if all(i in out for i in inputs):
                        del waiting[name]
                        running[name] = InheritableThread(
                            partial(stage, name, build),
                            name=f"engine.{name}",
                            session=spark,
                        )
                        running[name].start()
            if not running:
                break
            name, exc = done.get()
            running.pop(name).join()
            error = error or exc
        if error is not None:
            raise error
