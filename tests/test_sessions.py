"""Fixture tests for the session/JSON layer (sources/sessions.py) — the
edge cases the events-synthesized oracle queries don't reach: empty values
lists, uid repair priority, dropped repeatable entries, scalar-vs-dict
repeatable fields, drugs/fluids flags."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from neotree_data_pipeline_kedro_spark.sources.sessions import (
    entry_rows,
    explode_list_section,
    explode_mcl,
    explode_repeatables,
    repair_uid,
)

OLD = {
    "entries": [
        {"key": "NeoTreeID", "values": [{"label": "id", "value": "ab-123"}]},
        {"key": "Temp", "values": [{"label": "36.5", "value": "36.5"}]},
        {
            "key": "AdmReason",
            "values": [
                {"label": "Prem", "value": "P"},
                {"label": "Sepsis", "value": "S"},
            ],
        },
        {"key": "Temp", "values": [{"label": "37.0", "value": "37.0"}]},
        {"key": "completed_at", "values": [{"label": "t1", "value": "t1"}]},
        {"key": "completed_at", "values": [{"label": "t2", "value": "t2"}]},
        {"key": "Empty", "values": []},
    ]
}
NEW = {
    "entries": {
        "Gest": {"values": {"label": ["34"], "value": ["34"]}},
        "DangerSigns": {"values": {"label": ["Fits", "Grunting"], "value": ["F", "G"]}},
        "BWOth": {"values": {"label": ["Other w"], "value": ["OW"]}},
        "repeatables": {
            "Vitals Check": [
                {
                    "id": "r1",
                    "createdAt": "2024-01-01",
                    "HR": {"value": "120", "label": "120 bpm"},
                    "note": "ok",
                },
                {"id": "", "createdAt": "2024-01-02", "HR": {"value": "x", "label": "x"}},
                {"id": "r2", "createdAt": "2024-01-03", "Sp-O2!": {"value": "95", "label": "95%"}},
            ]
        },
    },
    "diagnoses": [
        {"Sepsis": {"name": "Sepsis (EONS)", "code-x": "P36"}},
        {"Jaundice": {"name": "Jaundice", "code-x": "P59"}},
        {"Sepsis": {"name": "Sepsis LATE", "code-x": "P36.9"}},
    ],
    "drugs": [{"Ampicillin": {"dose": "50mg"}}],
}


def _fixture_df(spark):
    rows = [
        ("s1", json.dumps(OLD["entries"]), None, None, None, "v2.1.453"),
        (
            "s2",
            json.dumps(NEW["entries"]),
            json.dumps(NEW["diagnoses"]),
            json.dumps(NEW["drugs"]),
            "zz-9",
            "5.0.1",
        ),
    ]
    return spark.createDataFrame(
        rows,
        "sid string, entries string, diagnoses string, drugs string, "
        "uid string, appVersion string",
    )


def test_uid_repair_and_entry_rows(spark):
    df = _fixture_df(spark)
    df = df.withColumn("uid", repair_uid(F.col("uid"), F.col("entries")))
    uids = dict(df.select("sid", "uid").collect())
    assert uids == {"s1": "AB-123", "s2": "ZZ-9"}

    rows = {
        (r.sid, r.key): r
        for r in entry_rows(df, id_cols=("sid",)).collect()
    }
    # duplicate keys: last wins, completed_at first wins
    assert rows[("s1", "Temp")].value == "37.0"
    assert rows[("s1", "completed_at")].value == "t1"
    # empty values list survives with null single projection
    assert rows[("s1", "Empty")].value is None
    assert rows[("s1", "Empty")].labels == []
    # MCL flags: multi-label, forced AdmReason / *Oth
    assert rows[("s1", "AdmReason")].is_mcl
    assert rows[("s2", "DangerSigns")].is_mcl
    assert rows[("s2", "BWOth")].is_mcl
    assert not rows[("s2", "Gest")].is_mcl
    # repeatables is not a form field
    assert ("s2", "repeatables") not in rows
    # MCL keeps all options; single projection is the first
    assert rows[("s2", "DangerSigns")].labels == ["Fits", "Grunting"]
    assert rows[("s2", "DangerSigns")].value == "F"


def test_explode_mcl(spark):
    df = _fixture_df(spark)
    er = entry_rows(df, id_cols=("sid",))
    got = {
        (r.sid, r.key, r.mcl_label)
        for r in explode_mcl(er, id_cols=("sid",)).collect()
    }
    assert got == {
        ("s1", "AdmReason", "Prem"),
        ("s1", "AdmReason", "Sepsis"),
        ("s2", "BWOth", "Other w"),
        ("s2", "DangerSigns", "Fits"),
        ("s2", "DangerSigns", "Grunting"),
    }


def test_explode_repeatables(spark):
    df = _fixture_df(spark).withColumn("facility", F.lit("HOSP")).withColumn(
        "review_number", F.lit(1)
    )
    rep = explode_repeatables(df, "admissions", id_cols=("sid", "facility"))
    rows = {r.form_id: r for r in rep.collect()}
    # empty-id entry dropped
    assert set(rows) == {"r1", "r2"}
    assert rows["r1"].script_table == "admissions_vitalscheck"
    # dict field -> (value, label); scalar duplicates into both
    assert rows["r1"].fields["HR"] == ("120", "120 bpm")
    assert rows["r1"].fields["note"] == ("ok", "ok")
    # key sanitization: Sp-O2! -> Sp_O2
    assert rows["r2"].fields["Sp_O2"] == ("95", "95%")


def test_explode_diagnoses_and_drugs(spark):
    df = _fixture_df(spark).withColumn("facility", F.lit("HOSP"))
    dx = {
        r.diagnosis: r
        for r in explode_list_section(
            df, "diagnoses", "diagnosis", id_cols=("sid", "facility")
        ).collect()
    }
    # dict-merge keeps the LAST Sepsis element
    assert dx["Sepsis"].fields["name"] == "Sepsis LATE"
    assert dx["Sepsis"].fields["code_x"] == "P36.9"
    assert dx["Jaundice"].fields["code_x"] == "P59"

    drugs = explode_list_section(
        df,
        "drugs",
        "value",
        id_cols=("sid", "facility"),
        extra={
            "is_drug": F.lit(True),
            "is_fluid": F.lit(False),
        },
    ).collect()
    assert len(drugs) == 1
    d = drugs[0]
    assert (d.value, d.is_drug, d.is_fluid) == ("Ampicillin", True, False)
    assert d.fields["dose"] == "50mg"
