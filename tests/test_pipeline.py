"""End-to-end engine test over FIXTURES.md-shaped session envelopes:
import -> dedup -> tidy -> fixes -> summaries -> join -> views -> clean ->
merge, mirroring the reference DAG (pipeline.py:21-40)."""

from __future__ import annotations

import json
import re
import sys
import threading
import time
import types

import pytest
from pyspark.sql import functions as F

from neotree_data_pipeline_kedro_spark.operators.uids import repair_duplicate_uids
from neotree_data_pipeline_kedro_spark.plans.pipeline import Engine, EngineConfig


ADM_SCRIPT = "-ZO1TK4zMvLhxTw6eKia"
DIS_SCRIPT = "-ZO2DISxMvLhxTw6eKia"


def _new_entries(uid, gest, bw, outcome_label, outcome_value, temp="36.1"):
    e = {
        "Gestation": {"values": {"label": ["Gestation"], "value": [str(gest)]}},
        "BW": {"values": {"label": ["Birth weight"], "value": [str(bw)]}},
        "Temperature": {"values": {"label": ["Temperature"], "value": [temp]}},
        "DateTimeAdmission": {
            "values": {"label": ["Admission date"], "value": ["2024-03-01T09:55:00"]}
        },
        "DOBTOB": {"values": {"label": ["DOB"], "value": ["2024-02-28T22:00:00"]}},
        "AdmReason": {
            "values": {"label": ["Prematurity", "Sepsis risk"], "value": ["Prem", "RFSep"]}
        },
    }
    if outcome_value is not None:
        e["NeoTreeOutcome"] = {
            "values": {"label": [outcome_label], "value": [outcome_value]}
        }
    if uid is not None:
        e["NeoTreeID"] = {"values": {"label": ["NeoTree ID"], "value": [uid]}}
    return json.dumps({"entries": e})


def _old_entries(uid, bw):
    return json.dumps(
        {
            "entries": [
                {"key": "NeoTreeID", "values": [{"label": "id", "value": uid}]},
                {"key": "BW", "values": [{"label": "Birth weight", "value": str(bw)}]},
            ]
        }
    )


FIELD_INFO = {
    "admissions": {
        "Gestation": {"label": "Gestation", "type": "number", "options": []},
        "BirthWeight": {"label": "Birth weight", "type": "number", "options": []},
        "Temperature": {"label": "Temperature", "type": "number", "options": []},
        "DateTimeAdmission": {"label": "Admission date", "type": "datetime",
                              "options": []},
        "DOBTOB": {"label": "DOB", "type": "datetime", "confidential": True,
                   "options": []},
        "NeoTreeOutcome": {
            "label": "Outcome",
            "type": "dropdown",
            "options": [
                {"value": "DC", "valueLabel": "Discharged"},
                {"value": "NND", "valueLabel": "Died"},
            ],
        },
        "AdmReason": {"label": "Admission Reason", "type": "multi_select",
                      "options": [{"value": "Prem", "valueLabel": "Prematurity"},
                                  {"value": "RFSep",
                                   "valueLabel": "Risk factors for sepsis"}]},
    },
    "discharges": {
        "NeoTreeOutcome": {
            "label": "Outcome",
            "type": "dropdown",
            "options": [{"value": "DC", "valueLabel": "Discharged"}],
        },
    },
}


def _sessions(spark):
    rows = [
        # two uploads of the same admission: dedup keeps id=2
        (1, "A7C6-0350", ADM_SCRIPT, "2024-03-01 10:00:00",
         _new_entries("A7C6-0350", 34, 2100, "Outcome", "DC")),
        (2, "A7C6-0350", ADM_SCRIPT, "2024-03-01 11:00:00",
         _new_entries("A7C6-0350", 34, 2100, "Outcome", "DC")),
        # null envelope uid repaired from entries (old format)
        (3, None, ADM_SCRIPT, "2024-03-02 10:00:00", _old_entries("F55F-0118", 2350)),
        # a third patient, label already correct
        (4, "B111-0001", ADM_SCRIPT, "2024-03-03 10:00:00",
         _new_entries("B111-0001", 28, 900, "Died", "NND")),
        # discharge for the first patient
        (5, "A7C6-0350", DIS_SCRIPT, "2024-03-05 10:00:00",
         json.dumps({"entries": {
             "NeoTreeOutcome": {"values": {"label": ["Outcome"], "value": ["DC"]}}
         }})),
    ]
    return spark.createDataFrame(
        [(i, u, s, t, d) for i, u, s, t, d in rows],
        "id long, uid string, scriptid string, ingested_at string, data string",
    ).withColumn("ingested_at", F.col("ingested_at").cast("timestamp"))


# every Engine.run stage, in the order of run's returned dict, with the
# stages it reads
STAGE_INPUTS = {
    "bronze": (),
    "deduplicated": ("bronze",),
    "admissions": ("deduplicated",),
    "admissions_mcl": ("deduplicated",),
    "discharges": ("deduplicated",),
    "discharges_mcl": ("deduplicated",),
    "admissions_fixed": ("admissions",),
    "discharges_fixed": ("discharges",),
    "summary_admissions": ("admissions_fixed",),
    "joined": ("admissions_fixed", "discharges_fixed"),
    "union_view": ("joined",),
    "convenience": ("joined",),
    "summary_counts": ("convenience",),
    "clean_admissions": ("convenience",),
    "merged_all": ("admissions_fixed", "discharges_fixed"),
}


def _engine():
    return Engine(
        EngineConfig(
            scripts={ADM_SCRIPT: "admissions", DIS_SCRIPT: "discharges"},
            facility_map={ADM_SCRIPT: "Harare NNU", DIS_SCRIPT: "Harare NNU"},
            field_info=FIELD_INFO,
        )
    )


def test_engine_end_to_end(spark):
    out = _engine().run(_sessions(spark))

    # stage 2: last-upload-wins (id=1 dropped), uid repaired for id=3
    dd = out["deduplicated"].select("id", "uid").collect()
    assert {r.id for r in dd} == {2, 3, 4, 5}
    assert {r.uid for r in dd} == {"A7C6-0350", "F55F-0118", "B111-0001"}

    # stage 3: wide admissions with Key.value pairs; BW renamed to BirthWeight
    adm = out["admissions"]
    assert "Gestation.value" in adm.columns and "BirthWeight.value" in adm.columns
    by_uid = {r["uid"]: r for r in adm.collect()}
    assert by_uid["F55F-0118"]["BirthWeight.value"] == "2350"
    assert len(by_uid) == 3

    # MCL explode: AdmReason contributes one row per selected label
    mcl = out["admissions_mcl"].filter(F.col("key") == "AdmReason")
    assert mcl.count() == 4  # 2 admissions x 2 selected options

    # stage 4: label repair fixed the question-label row to the option label
    fixed = {r["uid"]: r for r in out["admissions_fixed"].collect()}
    assert fixed["A7C6-0350"]["NeoTreeOutcome.label"] == "Discharged"
    assert fixed["B111-0001"]["NeoTreeOutcome.label"] == "Died"

    # stage 6: monthly rollup counts every admission in its month
    summ = out["summary_admissions"].collect()
    assert sum(r.admissions for r in summ) == 3

    # stage 7: join carries the discharge outcome onto the admission
    joined = {r["uid"]: r for r in out["joined"].collect()}
    assert joined["A7C6-0350"]["dis_NeoTreeOutcome.value"] == "DC"
    assert joined["F55F-0118"]["dis_NeoTreeOutcome.value"] is None

    # stage 9: convenience buckets derived from typed values
    conv = {r["uid"]: r for r in out["convenience"].collect()}
    assert conv["B111-0001"]["BWGroup"] is not None

    # stage 10: counts per facility
    counts = out["summary_counts"].collect()
    assert counts[0]["patients"] == 3

    # stage 12: clean table is lowercase and carries no confidential columns
    clean = out["clean_admissions"]
    assert all(c == c.lower() for c in clean.columns)
    assert not any("dobtob" in c for c in clean.columns)
    assert "gestation" in clean.columns

    # stage 13: merged ALL carries the lifecycle columns; the discharge
    # (no OFC/BW/datetime) pairs with its uid's only admission via the
    # datetime fallback => ambiguous + closed (merge_all.py:430-432)
    allt = {r["uid"]: r for r in out["merged_all"].collect()}
    assert len(allt) == 3
    m = allt["A7C6-0350"]
    assert m["has_admission"] and m["has_discharge"] and m["is_closed"]
    assert m["match_status"] == "ambiguous"
    assert m["NeoTreeOutcome.value"] == "DC"
    for u in ("F55F-0118", "B111-0001"):
        r = allt[u]
        assert r["has_admission"] and not r["has_discharge"]
        assert not r["is_closed"]
        assert r["match_status"] == "unmatched_admission"


def test_engine_keeps_one_row_per_uid(spark):
    """The key the Engine's stages rely on: a uid uploaded twice as an
    admission (different admission dates) and twice as a discharge
    (different OFC) keeps its latest session per (uid, scriptid), and the
    fixed, joined and ALL tables each hold one row per uid."""
    def adm(uid, when):
        e = json.loads(_new_entries(uid, 34, 2100, "Outcome", "DC"))
        e["entries"]["DateTimeAdmission"]["values"]["value"] = [when]
        return json.dumps(e)

    def dis(uid, ofc):
        return json.dumps({"entries": {
            "NeoTreeID": {"values": {"label": ["NeoTree ID"], "value": [uid]}},
            "OFCDis": {"values": {"label": ["OFC"], "value": [ofc]}},
        }})

    sessions = spark.createDataFrame(
        [
            (1, "A7C6-0350", ADM_SCRIPT, adm("A7C6-0350", "2024-03-01T09:55:00")),
            (2, "A7C6-0350", ADM_SCRIPT, adm("A7C6-0350", "2024-04-02T08:00:00")),
            (3, "A7C6-0350", DIS_SCRIPT, dis("A7C6-0350", "33")),
            (4, "A7C6-0350", DIS_SCRIPT, dis("A7C6-0350", "35")),
            (5, "B111-0001", ADM_SCRIPT, adm("B111-0001", "2024-03-03T10:00:00")),
        ],
        "id long, uid string, scriptid string, data string",
    ).withColumn("ingested_at", F.current_timestamp())
    field_info = dict(FIELD_INFO, discharges={
        **FIELD_INFO["discharges"],
        "OFCDis": {"label": "OFC", "type": "number", "options": []},
    })
    out = Engine(
        EngineConfig(
            scripts={ADM_SCRIPT: "admissions", DIS_SCRIPT: "discharges"},
            facility_map={ADM_SCRIPT: "Harare NNU", DIS_SCRIPT: "Harare NNU"},
            field_info=field_info,
        )
    ).run(sessions)

    assert sorted(r.id for r in out["deduplicated"].collect()) == [2, 4, 5]
    for name in ("admissions_fixed", "joined", "merged_all"):
        rows = out[name].collect()
        assert sorted(r["uid"] for r in rows) == ["A7C6-0350", "B111-0001"], name
    fixed = {r["uid"]: r for r in out["admissions_fixed"].collect()}
    assert fixed["A7C6-0350"]["DateTimeAdmission.value"] == "2024-04-02T08:00:00"
    joined = {r["uid"]: r for r in out["joined"].collect()}
    assert joined["A7C6-0350"]["dis_OFCDis.value"] == "35"
    assert joined["B111-0001"]["dis_id"] is None
    allt = {r["uid"]: r for r in out["merged_all"].collect()}
    assert allt["A7C6-0350"]["is_closed"] and not allt["B111-0001"]["is_closed"]


def test_engine_from_json_files(tmp_path, spark):
    """S1 front half: real .json export files through read_session_files
    into Engine.run (import_raw_jsons.py:31-215)."""
    import json as _json

    from neotree_data_pipeline_kedro_spark.sources.sessions import read_session_files

    def session_obj(uid, entries, script=ADM_SCRIPT):
        return {
            "uid": uid,
            "script": {"id": script},
            "completed_at": "2024-03-01T10:00:00",
            "entries": entries,
        }

    new_e = _json.loads(_new_entries("A7C6-0350", 34, 2100, "Outcome", "DC"))["entries"]
    old_e = _json.loads(_old_entries("F55F-0118", 2350))["entries"]
    (tmp_path / "export1.json").write_text(
        _json.dumps(
            {
                "sessions": [
                    session_obj("A7C6-0350", new_e),
                    session_obj(None, old_e),  # uid repaired from entries
                    {"uid": "DROP-01", "entries": {}},  # no script id: dropped
                ]
            }
        )
    )
    (tmp_path / "Chinhoyi_Maternity_Outcome.json").write_text(
        _json.dumps({"sessions": [session_obj("C111-0001", new_e, script="-ORIG")]})
    )

    sessions = read_session_files(spark, str(tmp_path / "*.json"))
    rows = {r.uid: r for r in sessions.collect()}
    assert set(rows) == {"A7C6-0350", "F55F-0118", "C111-0001"}
    assert rows["F55F-0118"].scriptid == ADM_SCRIPT
    # per-file script reroute
    assert rows["C111-0001"].scriptid == "-MYk0A3-Z_QjaXYU5MsS"
    assert rows["A7C6-0350"].ingested_at is not None
    assert len({r.id for r in rows.values()}) == 3  # surrogate ids distinct

    # skip-existing probe
    existing = spark.createDataFrame([("A7C6-0350",)], ["uid"])
    left = read_session_files(
        spark, str(tmp_path / "*.json"), existing_uids=existing
    )
    assert {r.uid for r in left.collect()} == {"F55F-0118", "C111-0001"}

    # end-to-end: the file scan feeds the engine unchanged
    out = _engine().run(sessions.filter(F.col("scriptid") == ADM_SCRIPT))
    adm = {r["uid"]: r for r in out["admissions"].collect()}
    assert adm["F55F-0118"]["BirthWeight.value"] == "2350"
    assert adm["A7C6-0350"]["Gestation.value"] == "34"


def test_engine_files_to_warehouse_integration(tmp_path, spark):
    """The full product path in one test: .json export files (S1 glob scan,
    both scripts) -> Engine.run 14-stage DAG -> parquet warehouse via the
    materialize hook; per-stage row counts and ALL-table lifecycle flags
    asserted from the WAREHOUSE files (what a downstream consumer reads),
    not the in-memory frames."""
    import json as _json

    from neotree_data_pipeline_kedro_spark.sources.sessions import (
        read_session_files,
    )

    def session_obj(uid, entries, script):
        return {
            "uid": uid,
            "script": {"id": script},
            "completed_at": "2024-03-01T10:00:00",
            "entries": entries,
        }

    def dis_entries(uid):
        return {
            "NeoTreeID": {"values": {"label": ["NeoTree ID"], "value": [uid]}},
            "NeoTreeOutcome": {"values": {"label": ["Outcome"], "value": ["DC"]}},
        }

    adm = [
        session_obj(
            "A7C6-0350",
            _json.loads(_new_entries("A7C6-0350", 34, 2100, "Outcome", "DC"))["entries"],
            ADM_SCRIPT,
        ),
        # duplicate upload of the same admission: dedup must keep one
        session_obj(
            "A7C6-0350",
            _json.loads(_new_entries("A7C6-0350", 34, 2100, "Outcome", "DC"))["entries"],
            ADM_SCRIPT,
        ),
        session_obj(
            "B111-0001",
            _json.loads(_new_entries("B111-0001", 28, 900, "Died", "NND"))["entries"],
            ADM_SCRIPT,
        ),
    ]
    dis = [session_obj("A7C6-0350", dis_entries("A7C6-0350"), DIS_SCRIPT)]
    (tmp_path / "export_adm.json").write_text(_json.dumps({"sessions": adm}))
    (tmp_path / "export_dis.json").write_text(_json.dumps({"sessions": dis}))

    warehouse = tmp_path / "warehouse"

    def materialize(name, df):
        df.write.mode("overwrite").parquet(str(warehouse / name))
        return df

    sessions = read_session_files(spark, str(tmp_path / "export_*.json"))
    Engine(
        EngineConfig(
            scripts={ADM_SCRIPT: "admissions", DIS_SCRIPT: "discharges"},
            facility_map={ADM_SCRIPT: "Harare NNU", DIS_SCRIPT: "Harare NNU"},
            field_info=FIELD_INFO,
        ),
        materialize=materialize,
    ).run(sessions)

    def wh(name):
        return spark.read.parquet(str(warehouse / name))

    # per-stage row counts from the warehouse
    assert wh("bronze").count() == 4  # 3 adm uploads + 1 dis
    assert wh("deduplicated").count() == 3  # duplicate upload collapsed
    assert wh("admissions").count() == 2
    assert wh("discharges").count() == 1
    assert wh("admissions_fixed").count() == 2
    assert wh("joined").count() == 2  # left join keeps both admissions
    assert wh("summary_counts").collect()[0]["patients"] == 2
    clean = wh("clean_admissions")
    assert clean.count() == 2
    assert not any("dobtob" in c for c in clean.columns)  # confidential gone

    # lifecycle flags on the warehouse ALL table
    allt = {r["uid"]: r for r in wh("merged_all").collect()}
    assert len(allt) == 2
    assert allt["A7C6-0350"]["has_admission"]
    assert allt["A7C6-0350"]["has_discharge"]
    assert allt["A7C6-0350"]["is_closed"]
    assert allt["A7C6-0350"]["NeoTreeOutcome.value"] == "DC"
    assert allt["B111-0001"]["has_admission"]
    assert not allt["B111-0001"]["has_discharge"]
    assert not allt["B111-0001"]["is_closed"]
    assert allt["B111-0001"]["match_status"] == "unmatched_admission"


def _export(path, *sessions):
    """One export file of ``(uid, script, birth weight, completed_at)``
    sessions."""
    path.write_text(json.dumps({"sessions": [
        {"uid": uid, "script": {"id": script}, "completed_at": at,
         "entries": json.loads(_new_entries(uid, 34, bw, "Outcome", "DC"))["entries"]}
        for uid, script, bw, at in sessions
    ]}))


def test_later_upload_wins_wherever_the_landing_sits(spark, tmp_path):
    """Two uploads of one session, in the exports of two days: dedup keeps
    the later one under every directory name. ``id`` is the ingest
    sequence, not a hash of the file's path."""
    from neotree_data_pipeline_kedro_spark.sources.sessions import read_session_files

    eng = _engine()
    for k in range(8):
        landing = tmp_path / f"landing{k}"
        landing.mkdir()
        _export(landing / "export_2024-01-01.json",
                ("A7C6-0350", ADM_SCRIPT, 1000, "2024-01-01T10:00:00"))
        _export(landing / "export_2024-01-02.json",
                ("A7C6-0350", ADM_SCRIPT, 2000, "2024-01-02T10:00:00"))
        kept = eng.deduplicate(
            eng.import_raw(read_session_files(spark, str(landing / "*.json")))
        ).select(F.get_json_object("entries", "$.BW.values.value[0]"))
        assert [r[0] for r in kept.collect()] == ["2000"], landing.name


def test_read_session_files_expands_the_glob(spark, tmp_path):
    """The glob is expanded before the read: names that hold glob
    characters are read as themselves, and a glob with no match raises."""
    from neotree_data_pipeline_kedro_spark.sources.sessions import read_session_files

    _export(tmp_path / "export[1].json",
            ("A7C6-0350", ADM_SCRIPT, 1000, "2024-01-01T10:00:00"))
    _export(tmp_path / "export{2}.json",
            ("B111-0001", ADM_SCRIPT, 900, "2024-01-01T10:00:00"))
    got = read_session_files(spark, str(tmp_path / "*.json")).collect()
    assert sorted((r.uid, r.src_file.rsplit("/", 1)[1]) for r in got) == [
        ("A7C6-0350", "export%5B1%5D.json"), ("B111-0001", "export%7B2%7D.json")]
    with pytest.raises(FileNotFoundError):
        read_session_files(spark, str(tmp_path / "*.csv"))


def test_copied_landing_gives_the_same_tables(spark, tmp_path):
    """The same exports under two directory names give the same 15 stage
    tables: no column but ``src_file`` depends on where the landing sits."""
    import shutil

    from perfbench.workloads import table_checksum

    from neotree_data_pipeline_kedro_spark.__main__ import run_cron

    first = tmp_path / "landing"
    first.mkdir()
    _export(first / "export_adm.json",
            ("A7C6-0350", ADM_SCRIPT, 2100, "2024-03-01T10:00:00"),
            ("A7C6-0350", ADM_SCRIPT, 2100, "2024-03-01T10:00:00"),
            ("B111-0001", ADM_SCRIPT, 900, "2024-03-01T11:00:00"))
    _export(first / "export_dis.json",
            ("A7C6-0350", DIS_SCRIPT, 2100, "2024-03-05T10:00:00"))
    shutil.copytree(first, tmp_path / "moved" / "elsewhere")
    checksums = []
    for landing in (first, tmp_path / "moved" / "elsewhere"):
        out = landing.parent / "out"
        rows = run_cron(spark, str(landing / "*.json"), str(out), _engine().config)
        checksums.append({
            name: table_checksum(spark.read.parquet(str(out / "warehouse" / name)))
            for name in STAGE_INPUTS
        })
        assert rows["joined"] == 2 and rows["bronze_sink"] == 3
    assert checksums[0] == checksums[1]


@pytest.fixture(scope="module")
def stage_plans(spark, tmp_path_factory):
    """Physical plan of every stage Engine.run hands to a parquet
    materialize hook that reads each written stage back."""
    warehouse = tmp_path_factory.mktemp("warehouse")
    plans = {}

    def materialize(name, df):
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        df.write.mode("overwrite").parquet(str(warehouse / name))
        return spark.read.parquet(str(warehouse / name))

    eng = _engine()
    eng._mat = materialize
    eng.run(_sessions(spark))
    return plans


def test_engine_stages_read_materialized_inputs(stage_plans):
    """A stage after a materialized one reads the written table instead of
    re-deriving it: the fixes never re-parse the session JSON, the views
    never re-run join_tables' join."""
    json_parse = re.compile(r"from_json|get_json_object|json_tuple")
    for name in ("admissions_fixed", "discharges_fixed"):
        assert not json_parse.search(stage_plans[name]), name
    for name in ("union_view", "convenience"):
        assert not re.search(r"\w*Join\b", stage_plans[name]), name


def test_engine_stages_run_no_python(stage_plans):
    """The product path stays in the JVM: no stage plan has a Python
    worker node (the assignment is an aggregate lambda, not mapInPandas)."""
    python_node = re.compile(
        r"\b\w*(?:InPandas|EvalPython|InArrow)\b"
    )
    assert "merged_all" in stage_plans
    for name, plan in stage_plans.items():
        assert not python_node.search(plan), name


def test_engine_runs_no_multi_episode_pass(stage_plans):
    """With one row per uid and script, the Engine runs none of the
    reference's passes over several episodes of a uid: admissions_fixed
    shuffles nothing (no D8 uid repair), and no window ranks rows in
    admissions_fixed, joined (no J2 best match) or merged_all (no
    admission re-dedup)."""
    assert not re.search(r"\w*Exchange\b", stage_plans["admissions_fixed"])
    for name in ("admissions_fixed", "joined", "merged_all"):
        assert not re.search(r"\bWindow\b", stage_plans[name]), name


def test_uid_repair_builds_without_jobs(spark, tmp_path):
    """Building the duplicate-uid repair over a written table starts no
    Spark job: the collision check is part of the plan, not a driver-side
    collect at build time."""
    path = str(tmp_path / "admissions")
    spark.createDataFrame(
        [("A", "2024-01", 1), ("A", "2024-02", 2)], "uid string, da string, rid int"
    ).write.parquet(path)
    adm = spark.read.parquet(path)
    existing = spark.createDataFrame([("B",)], "uid string")
    sc = spark.sparkContext
    sc.setJobGroup("uid-repair-build", "build only")
    try:
        repair_duplicate_uids(adm, "uid", "da", existing)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup("uid-repair-build")) == []


def test_engine_run_leaves_no_cached_frame(spark, tmp_path):
    """A materialized run persists nothing it does not release."""
    jsc = spark.sparkContext._jsc

    def materialize(name, df):
        df.write.mode("overwrite").parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    eng = _engine()
    eng._mat = materialize
    before = jsc.getPersistentRDDs().size()
    eng.run(_sessions(spark))
    assert jsc.getPersistentRDDs().size() == before


def test_engine_reconcile_completes_open_rows(spark):
    eng = _engine()
    out = eng.run(_sessions(spark))
    new_dis = spark.createDataFrame(
        [(99, "F55F-0118", "Harare NNU", "DC", "Discharged")],
        "id long, uid string, facility string, "
        "`NeoTreeOutcome.value` string, `NeoTreeOutcome.label` string",
    )
    rec = {r["uid"]: r for r in eng.reconcile(out["merged_all"], new_dis=new_dis).collect()}
    # the open admission-only row completes and closes
    assert rec["F55F-0118"]["has_discharge"] and rec["F55F-0118"]["is_closed"]
    assert rec["F55F-0118"]["NeoTreeOutcome.value"] == "DC"
    # untouched rows keep their lifecycle state
    assert not rec["B111-0001"]["has_discharge"]
    assert rec["A7C6-0350"]["is_closed"]


def test_engine_materialize_hook(spark):
    seen = []
    eng = _engine()
    eng._mat = lambda name, df: seen.append(name) or df
    out = eng.run(_sessions(spark))
    # every stage is hooked once; the returned keys keep the stage order
    assert sorted(seen) == sorted(STAGE_INPUTS)
    assert list(out) == list(STAGE_INPUTS)


def _downstream(stage):
    found, todo = set(), [stage]
    while todo:
        s = todo.pop()
        for name, inputs in STAGE_INPUTS.items():
            if s in inputs and name not in found:
                found.add(name)
                todo.append(name)
    return found


def test_engine_runs_independent_stages_together(spark):
    """union_view and convenience read only joined, so both reach the hook
    before either returns; run one after the other, the barrier times
    out."""
    barrier = threading.Barrier(2, timeout=60)

    def materialize(name, df):
        if name in ("union_view", "convenience"):
            barrier.wait()
        return df

    eng = _engine()
    eng._mat = materialize
    eng.run(_sessions(spark))


def test_engine_hook_waits_for_its_inputs(spark):
    """No stage reaches the hook before every stage it reads has returned
    from it, the tidy outputs share one build, and each stage's jobs carry
    the description engine.<stage> under the caller's job group, which the
    run leaves alone."""
    sc = spark.sparkContext
    lock = threading.Lock()
    log, props = [], {}

    def materialize(name, df):
        with lock:
            log.append(("start", name))
        props[name] = (
            sc.getLocalProperty("spark.job.description"),
            sc.getLocalProperty("spark.jobGroup.id"),
        )
        time.sleep(0.1)
        with lock:
            log.append(("end", name))
        return df

    eng = _engine()
    eng._mat = materialize
    tidy_calls = []
    tidy = eng.tidy
    eng.tidy = lambda deduped: tidy_calls.append(1) or tidy(deduped)
    interval = sys.getswitchinterval()
    sc.setJobGroup("caller", "caller's job")
    sys.setswitchinterval(1e-6)
    try:
        eng.run(_sessions(spark))
        assert sc.getLocalProperty("spark.job.description") == "caller's job"
    finally:
        sys.setswitchinterval(interval)
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)

    pos = {event: k for k, event in enumerate(log)}
    for name, inputs in STAGE_INPUTS.items():
        for i in inputs:
            assert pos[("end", i)] < pos[("start", name)], (i, name)
    assert props == {name: (f"engine.{name}", "caller") for name in STAGE_INPUTS}
    assert len(tidy_calls) == 1


def test_engine_stage_error_stops_downstream(spark):
    """A hook that raises fails the run with its own exception; no stage
    that reads the failed one reaches the hook and no stage thread
    outlives the run."""

    class Boom(Exception):
        pass

    hooked, threads = [], []

    def materialize(name, df):
        hooked.append(name)
        threads.append(threading.current_thread())
        if name == "admissions_fixed":
            raise Boom(name)
        return df

    eng = _engine()
    eng._mat = materialize
    with pytest.raises(Boom, match="admissions_fixed"):
        eng.run(_sessions(spark))
    assert "admissions_fixed" in hooked
    assert not _downstream("admissions_fixed") & set(hooked)
    me = threading.current_thread()
    assert not any(t.is_alive() for t in threads if t is not me)


@pytest.fixture(scope="module")
def cli_run(spark, tmp_path_factory):
    """One ``main`` run on the seed-0 benchmark landing: the product pass
    that writes the warehouse, the bronze sink and the rollup."""
    from perfbench import gen, workloads

    from neotree_data_pipeline_kedro_spark.__main__ import main

    tmp = tmp_path_factory.mktemp("cli")
    batch = gen.backfill(0, workloads.BACKFILL_ADMISSIONS, workloads.BACKFILL_FILES)
    gen.write_batch(batch, str(tmp / "landing"))
    scripts = {gen.ADM_SCRIPT: "admissions", gen.DIS_SCRIPT: "discharges"}
    (tmp / "engine.json").write_text(json.dumps({
        "scripts": scripts,
        "facility_map": {s: gen.FACILITY for s in scripts},
        "field_info": gen.FIELD_INFO,
    }))
    out = tmp / "out"
    argv = ["--landing", str(tmp / "landing" / "*.json"), "--out", str(out),
            "--config", str(tmp / "engine.json")]
    first = main(argv, spark=spark)

    def wh(name):
        return spark.read.parquet(str(out / "warehouse" / name))

    return types.SimpleNamespace(batch=batch, out=out, argv=argv, first=first, wh=wh)


def test_cli_main_runs_all_stages(spark, cli_run):
    """``main`` is the product pass: the warehouse, the bronze sink and the
    rollup hold every conservation identity and the pinned checksums, and a
    second run into the same ``--out`` appends nothing and changes no table."""
    from perfbench import workloads

    from neotree_data_pipeline_kedro_spark.__main__ import main

    batch, wh = cli_run.batch, cli_run.wh

    def check_etl():
        failures = []
        workloads.check_etl(
            types.SimpleNamespace(spark=spark, fail=lambda *f: failures.append(f)),
            0, str(cli_run.out), batch, F,
        )
        assert failures == []

    first = dict(cli_run.first)
    assert first.pop("bronze_sink") == len(batch.keys)
    assert first["bronze"] == batch.sessions
    assert first["deduplicated"] == len(batch.keys)
    # the rows observed inside each write are the rows written
    assert first == {name: wh(name).count() for name in first}
    # the sink has the deduplicated stage's schema, which the rollup declares
    assert (spark.read.parquet(str(cli_run.out / "bronze_sink")).schema
            == wh("deduplicated").schema)
    check_etl()

    again = main(cli_run.argv, spark=spark)
    assert again.pop("bronze_sink") == 0
    assert again == first
    check_etl()


def test_cli_keeps_birth_weight(cli_run):
    """30% of the landing's admissions are old-format and carry birth weight
    under ``BW``; it reaches the admissions table, the convenience BWGroup
    and the ALL table."""
    wh = cli_run.wh
    assert wh("admissions").count() > 0
    assert wh("admissions").filter(F.col("`BirthWeight.value`").isNull()).count() == 0
    assert wh("convenience").filter(F.col("BWGroup").isNull()).count() == 0
    assert "BirthWeight.value" in wh("merged_all").columns


def test_cli_failed_run_leaves_the_published_warehouse(spark, cli_run, monkeypatch):
    """A stage that raises fails the run before anything is published:
    every file under ``--out`` keeps its bytes. The next run purges the
    staged tables and publishes the same warehouse."""
    import hashlib

    from neotree_data_pipeline_kedro_spark.__main__ import main

    out = cli_run.out
    staged = out / "warehouse.__rollup_tmp"

    def digests():
        return {
            str(p.relative_to(out)): hashlib.md5(p.read_bytes()).hexdigest()
            for p in out.rglob("*")
            if p.is_file() and staged not in p.parents
        }

    before = digests()
    assert any(k.startswith("warehouse/merged_all/") for k in before)

    class Boom(RuntimeError):
        pass

    def merge_all(self, adm, dis):
        raise Boom("merge_all")

    monkeypatch.setattr(Engine, "merge_all", merge_all)
    with pytest.raises(Boom):
        main(cli_run.argv, spark=spark)
    assert digests() == before

    monkeypatch.undo()
    again = main(cli_run.argv, spark=spark)
    assert again.pop("bronze_sink") == 0
    assert again == {k: v for k, v in cli_run.first.items() if k != "bronze_sink"}
    assert not staged.exists()


def test_cli_logs_no_missing_file_trace(tmp_path):
    """``python -m neotree_data_pipeline_kedro_spark`` in a process of its
    own: the run succeeds, and its stderr carries no Java
    ``FileNotFoundException`` (Spark's metadata-directory probe of a
    literal glob logged one on every run)."""
    import os
    import subprocess

    landing = tmp_path / "landing"
    landing.mkdir()
    _export(landing / "export_adm.json",
            ("A7C6-0350", ADM_SCRIPT, 2100, "2024-03-01T10:00:00"))
    _export(landing / "export_dis.json",
            ("A7C6-0350", DIS_SCRIPT, 2100, "2024-03-05T10:00:00"))
    (tmp_path / "engine.json").write_text(json.dumps({
        "scripts": _engine().config.scripts,
        "facility_map": _engine().config.facility_map,
        "field_info": FIELD_INFO,
    }))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, "-m", "neotree_data_pipeline_kedro_spark",
         "--landing", str(landing / "*.json"), "--out", str(tmp_path / "out"),
         "--config", str(tmp_path / "engine.json")],
        capture_output=True, text=True, env=env, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.splitlines()[-1])["rows"]["merged_all"] == 1
    assert "FileNotFoundException" not in proc.stderr


def test_tidy_requires_field_metadata(spark):
    """A script with neither pivot_keys nor field_info must fail loudly, not
    pivot into an id-only frame."""
    import pytest

    from neotree_data_pipeline_kedro_spark.plans.pipeline import Engine, EngineConfig

    eng = Engine(
        EngineConfig(
            scripts={ADM_SCRIPT: "admissions"},
            facility_map={ADM_SCRIPT: "Harare NNU"},
            field_info={},
        )
    )
    sess = spark.createDataFrame(
        [(1, "A7C6-0350", ADM_SCRIPT, None,
          _new_entries("A7C6-0350", 34, 2100, "Outcome", "DC"))],
        "id long, uid string, scriptid string, ingested_at timestamp, data string",
    )
    bronze = eng.import_raw(sess)
    with pytest.raises(ValueError, match="pivot_keys nor field_info"):
        eng.tidy(eng.deduplicate(bronze))


def test_engine_rejects_two_scripts_for_one_table():
    """Two script ids mapped to one table name would overwrite each other's
    tidy table and shift the discharge script; the Engine refuses them."""
    msg = "'-A1' and '-A2' both map to the table 'admissions'"
    with pytest.raises(ValueError, match=msg):
        Engine(
            EngineConfig(
                scripts={"-A1": "admissions", "-A2": "admissions", "-D": "discharges"},
                field_info=FIELD_INFO,
            )
        )


def test_engine_rejects_renamed_source_key():
    """tidy renames entry keys (KEY_RENAMES) before it pivots on the
    configured keys, so a config naming a rename's source key would pivot
    a column that can never be filled; the Engine refuses it."""
    msg = r"field_info\['admissions'\] names the key 'BW', which tidy renames to"
    with pytest.raises(ValueError, match=msg + " 'BirthWeight'"):
        Engine(
            EngineConfig(
                scripts={ADM_SCRIPT: "admissions"},
                field_info={"admissions": {"BW": {"type": "number"}}},
            )
        )
    msg = r"pivot_keys\['discharges'\] names the key 'BWTDis'"
    with pytest.raises(ValueError, match=msg):
        Engine(
            EngineConfig(
                scripts={DIS_SCRIPT: "discharges"},
                pivot_keys={"discharges": ["NeoTreeOutcome", "BWTDis"]},
            )
        )


def test_engine_default_facility_map(spark):
    """Without a facility_map every facility is null and the stages still
    build: the discharge pairs with its admission in the ALL table."""
    out = Engine(
        EngineConfig(
            scripts={ADM_SCRIPT: "admissions", DIS_SCRIPT: "discharges"},
            field_info=FIELD_INFO,
        )
    ).run(_sessions(spark))
    assert {r.facility for r in out["bronze"].collect()} == {None}
    assert [tuple(r) for r in out["summary_counts"].collect()] == [(None, 3, 3)]
    allt = {r["uid"]: r for r in out["merged_all"].collect()}
    assert len(allt) == 3
    assert allt["A7C6-0350"]["is_closed"]
    assert allt["A7C6-0350"]["NeoTreeOutcome.value"] == "DC"


def test_engine_two_cycle_incremental_delta(tmp_path, spark):
    """The reference's cron cycle composed end-to-end (NOT-EXISTS contract,
    merge_all.py:598-677 / assorted_queries.py:241-252): cycle 1 imports and
    runs the DAG; new export files land; cycle 2 must (a) skip
    already-imported (uid, scriptid) keys at the bronze sink, (b) run every
    stage on the delta only — per-stage row counts equal the delta, and
    (c) reconcile flips the open admission closed from the newly arrived
    discharge (J7) without touching other rows."""
    import json as _json

    from neotree_data_pipeline_kedro_spark.operators.dedup import (
        incremental_append,
    )
    from neotree_data_pipeline_kedro_spark.sources.sessions import (
        read_session_files,
    )
    from neotree_data_pipeline_kedro_spark.streaming.incremental import (
        incremental_sink,
    )

    def session_obj(uid, entries, script):
        return {
            "uid": uid,
            "script": {"id": script},
            "completed_at": "2024-03-01T10:00:00",
            "entries": entries,
        }

    def adm_obj(uid, gest, bw, outcome_label, outcome_value):
        return session_obj(
            uid,
            _json.loads(_new_entries(uid, gest, bw, outcome_label, outcome_value))[
                "entries"
            ],
            ADM_SCRIPT,
        )

    def dis_obj(uid):
        return session_obj(
            uid,
            {
                "NeoTreeID": {"values": {"label": ["NeoTree ID"], "value": [uid]}},
                "NeoTreeOutcome": {"values": {"label": ["Outcome"], "value": ["DC"]}},
            },
            DIS_SCRIPT,
        )

    eng = _engine()
    sink = str(tmp_path / "bronze_sink")

    # ---- cycle 1: initial import + full DAG -------------------------------
    in1 = tmp_path / "in1"
    in1.mkdir()
    (in1 / "export_adm.json").write_text(
        _json.dumps(
            {
                "sessions": [
                    adm_obj("A7C6-0350", 34, 2100, "Outcome", "DC"),
                    adm_obj("A7C6-0350", 34, 2100, "Outcome", "DC"),  # dup upload
                    adm_obj("B111-0001", 28, 900, "Died", "NND"),
                ]
            }
        )
    )
    (in1 / "export_dis.json").write_text(
        _json.dumps({"sessions": [dis_obj("A7C6-0350")]})
    )
    sessions1 = read_session_files(spark, str(in1 / "export_*.json"))
    assert incremental_sink(spark, sessions1, sink, ["uid", "scriptid"]) == 4

    out1 = eng.run(sessions1)
    assert out1["deduplicated"].count() == 3
    all1 = {r["uid"]: r for r in out1["merged_all"].collect()}
    assert all1["A7C6-0350"]["is_closed"]
    assert not all1["B111-0001"]["is_closed"]  # open: admission, no discharge

    # ---- between cycles: new exports land ---------------------------------
    in2 = tmp_path / "in2"
    in2.mkdir()
    (in2 / "export_adm.json").write_text(
        _json.dumps(
            {
                "sessions": [
                    adm_obj("A7C6-0350", 34, 2100, "Outcome", "DC"),  # re-upload
                    adm_obj("C222-0002", 30, 1500, "Outcome", "DC"),  # new
                ]
            }
        )
    )
    (in2 / "export_dis.json").write_text(
        _json.dumps({"sessions": [dis_obj("B111-0001")]})  # closes B111
    )

    # ---- cycle 2: sink append skips existing keys -------------------------
    incoming2 = read_session_files(spark, str(in2 / "export_*.json"))
    assert incoming2.count() == 3
    assert incremental_sink(spark, incoming2, sink, ["uid", "scriptid"]) == 2
    sunk = spark.read.parquet(sink)
    assert sunk.count() == 6  # 4 + 2; the A7C6 re-upload never lands
    assert (
        sunk.filter(
            (F.col("uid") == "A7C6-0350") & (F.col("scriptid") == ADM_SCRIPT)
        ).count()
        == 2  # both cycle-1 uploads, nothing from cycle 2
    )

    # ---- cycle 2: every stage sees only the delta -------------------------
    delta2 = incremental_append(
        incoming2, sessions1.select("uid", "scriptid"), ["uid", "scriptid"]
    )
    out2 = eng.run(delta2)
    assert out2["bronze"].count() == 2
    assert out2["deduplicated"].count() == 2
    assert out2["admissions"].count() == 1
    assert out2["discharges"].count() == 1
    assert out2["admissions_fixed"].count() == 1
    assert out2["discharges_fixed"].count() == 1
    assert out2["joined"].count() == 1  # the new admission only
    assert out2["summary_counts"].collect()[0]["patients"] == 1
    all2 = {r["uid"]: r for r in out2["merged_all"].collect()}
    assert set(all2) == {"C222-0002", "B111-0001"}
    assert all2["C222-0002"]["match_status"] == "unmatched_admission"
    assert all2["B111-0001"]["match_status"] == "unmatched_discharge"

    # ---- reconcile: the delta discharge closes cycle-1's open row ---------
    rec = {
        r["uid"]: r
        for r in eng.reconcile(
            out1["merged_all"],
            new_adm=out2["admissions_fixed"],
            new_dis=out2["discharges_fixed"],
        ).collect()
    }
    assert rec["B111-0001"]["has_discharge"] and rec["B111-0001"]["is_closed"]
    assert rec["B111-0001"]["NeoTreeOutcome.value"] == "DC"
    assert rec["A7C6-0350"]["is_closed"]  # untouched rows keep their state
    assert rec["A7C6-0350"]["has_admission"] and rec["A7C6-0350"]["has_discharge"]

