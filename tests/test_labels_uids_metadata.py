"""Unit tests: label repair against the reference's _transform_subset
semantics (field_info.py:306-377), D8 deterministic uid minting (incl.
collision resolution), and the S9 metadata registry loader."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from neotree_data_pipeline_kedro_spark.operators.labels import (
    repair_dataframe_labels,
    repair_field,
)
from neotree_data_pipeline_kedro_spark.operators.uids import (
    minted_uid,
    repair_duplicate_uids,
)
from neotree_data_pipeline_kedro_spark.sources.metadata import (
    confidential_keys,
    load_field_metadata,
    numeric_ranges,
)

GENDER = {
    "label": "What is the gender?",
    "type": "dropdown",
    "options": [
        {"value": "M", "valueLabel": "Male"},
        {"value": "F", "valueLabel": "Female"},
    ],
}
SYMPTOMS = {
    "label": "Symptoms observed",
    "type": "multi_select",
    "options": [
        {"value": "FV", "valueLabel": "Fever"},
        {"value": "CG", "valueLabel": "Cough"},
    ],
}
FREE = {"label": "Notes", "type": "text", "options": []}


def _run(spark, rows, field):
    df = spark.createDataFrame(rows, "value string, label string")
    fv, fl = repair_field("value", "label", field)
    return [(r.v, r.l) for r in df.select(fv.alias("v"), fl.alias("l")).collect()]


def test_repair_field_select(spark):
    got = _run(
        spark,
        [
            # question-label rows get relabeled from options
            ("M", "What is the gender?"),
            # unknown value under the gate -> NULL label (pandas .map)
            ("X", "What is the gender?"),
            # correct label untouched
            ("F", "Female"),
            # inverted pair (value holds the label, label holds the value) swaps
            ("Male", "M"),
            # junk label NOT equal to json_label: left alone (the gate)
            ("M", "junk"),
            # oth passthrough: no relabel even under the gate
            ("Oth", "What is the gender?"),
            # null value forces null label
            (None, "Male"),
        ],
        GENDER,
    )
    assert got == [
        ("M", "Male"),
        ("X", None),
        ("F", "Female"),
        ("M", "Male"),
        ("M", "junk"),
        ("Oth", "What is the gender?"),
        (None, None),
    ]


def test_repair_field_multiselect(spark):
    got = _run(
        spark,
        [
            ("FV,CG", "Symptoms observed"),
            ("FV, ZZ ,", "Symptoms observed"),  # strip + unknown passthrough + empty drop
            ("FV", "Fever"),  # gate closed: untouched
        ],
        SYMPTOMS,
    )
    assert got == [
        ("FV,CG", "Fever,Cough"),
        ("FV, ZZ ,", "Fever,ZZ"),
        ("FV", "Fever"),
    ]


def test_repair_field_no_options(spark):
    got = _run(spark, [("hello", "Notes"), ("hello", "kept")], FREE)
    # no options: gated rows take label := value
    assert got == [("hello", "hello"), ("hello", "kept")]


def test_repair_dataframe_labels(spark):
    df = spark.createDataFrame(
        [("M", "What is the gender?", "x")],
        ["Gender.value", "Gender.label", "other"],
    )
    out = repair_dataframe_labels(df, {"Gender": GENDER, "Missing": GENDER})
    row = out.collect()[0]
    assert row["Gender.label"] == "Male"
    assert row["other"] == "x"
    assert out.columns == df.columns


def test_repair_duplicate_uids(spark):
    df = spark.createDataFrame(
        [
            ("A", "2024-01", 1),
            ("A", "2024-01", 2),  # same episode: keeps uid
            ("A", "2024-02", 3),  # second episode: minted
            ("B", "2024-01", 4),  # unique uid: untouched
        ],
        ["uid", "da", "rid"],
    )
    out = {r.rid: r.uid for r in repair_duplicate_uids(df, "uid", "da").collect()}
    assert out[1] == "A" and out[2] == "A" and out[4] == "B"
    assert re.fullmatch(r"[A-Z0-9]{2}ZZ-\d{4}", out[3])
    # deterministic across runs
    again = {r.rid: r.uid for r in repair_duplicate_uids(df, "uid", "da").collect()}
    assert again == out


def _mint(spark, uid, da, salt):
    return spark.range(1).select(minted_uid(F.lit(uid), F.lit(da), salt)).first()[0]


# (rows as (uid, da), ids put in existing_uids, expected uid per row or
# None when the repair must fail, the ids the case relies on and the
# triples that must mint them); a (uid, da, salt) triple stands for
# minted_uid(uid, da, salt)
COLLISION_CASES = {
    # U1113's and U598's 2024-02 episodes share the salt-1 id E2ZZ-4516 and
    # both salt-0 ids are taken: U1113, first in (uid, date) order, gets it
    # and U598 moves on to its salt-2 id 13ZZ-7854
    "chained": (
        [("U1113", "2024-01"), ("U1113", "2024-02"),
         ("U598", "2024-01"), ("U598", "2024-02")],
        [("U1113", "2024-02", 0), ("U598", "2024-02", 0)],
        ["U1113", ("U1113", "2024-02", 1), "U598", ("U598", "2024-02", 2)],
        {"E2ZZ-4516": [("U1113", "2024-02", 1), ("U598", "2024-02", 1)],
         "13ZZ-7854": [("U598", "2024-02", 2)]},
    ),
    # the salt-0 mint is an existing uid: the episode re-salts
    "single": (
        [("A", "2024-01"), ("A", "2024-02")],
        [("A", "2024-02", 0)],
        ["A", ("A", "2024-02", 1)],
        {},
    ),
    # U161's and U297's 2024-02 episodes share the salt-0 id 03ZZ-1251: the
    # smaller (uid, date) keeps it, the larger re-salts
    "shared_salt0": (
        [("U161", "2024-01"), ("U161", "2024-02"),
         ("U297", "2024-01"), ("U297", "2024-02")],
        [],
        ["U161", ("U161", "2024-02", 0), "U297", ("U297", "2024-02", 1)],
        {"03ZZ-1251": [("U161", "2024-02", 0), ("U297", "2024-02", 0)]},
    ),
    # U1386's 2024-02 salt-1 id 32ZZ-2124 is the salt-0 id U1258's 2024-02
    # episode keeps: with its own salt-0 id taken, U1386 skips salt 1 and
    # takes salt 2
    "salt0_burns_later_salt": (
        [("U1386", "2024-01"), ("U1386", "2024-02"),
         ("U1258", "2024-01"), ("U1258", "2024-02")],
        [("U1386", "2024-02", 0)],
        ["U1386", ("U1386", "2024-02", 2), "U1258", ("U1258", "2024-02", 0)],
        {"32ZZ-2124": [("U1386", "2024-02", 1), ("U1258", "2024-02", 0)]},
    ),
    # rows with a null uid or a null date keep their uid; a null date is
    # the uid's first episode
    "nulls": (
        [(None, "2024-01"), (None, "2024-02"), ("A", None), ("A", "2024-01")],
        [],
        [None, None, "A", ("A", "2024-01", 0)],
        {},
    ),
    # all 9 candidate ids of the episode are taken
    "every_salt_taken": (
        [("A", "2024-01"), ("A", "2024-02")],
        [("A", "2024-02", salt) for salt in range(9)],
        None,
        {},
    ),
}


@pytest.mark.parametrize("case", sorted(COLLISION_CASES))
def test_repair_duplicate_uids_collision(spark, case):
    rows, existing, want, mints = COLLISION_CASES[case]
    for minted, triples in mints.items():
        assert [_mint(spark, *t) for t in triples] == [minted] * len(triples)
    df = spark.createDataFrame(
        [(u, d, rid) for rid, (u, d) in enumerate(rows)], "uid string, da string, rid int"
    )
    ex = spark.createDataFrame(
        [(_mint(spark, *t),) for t in existing], "uid string"
    ) if existing else None
    if want is None:
        with pytest.raises(Exception, match="no free surrogate id"):
            repair_duplicate_uids(df, "uid", "da", ex).collect()
        return
    out = {r.rid: r.uid for r in repair_duplicate_uids(df, "uid", "da", ex).collect()}
    expected = {
        rid: _mint(spark, *w) if isinstance(w, tuple) else w
        for rid, w in enumerate(want)
    }
    assert out == expected


def test_metadata_loader(tmp_path):
    raw = {
        "script1": {
            "Gender": {**GENDER, "confidential": False},
            "KinCell": {
                "label": "Kin phone",
                "type": "text",
                "confidential": True,
                "minValue": None,
            },
            "BW": {"label": "Birth weight", "type": "number", "minValue": 400,
                   "maxValue": 6000},
        }
    }
    p = tmp_path / "scripts.json"
    p.write_text(json.dumps(raw))
    meta = load_field_metadata(p)
    assert meta["script1"]["Gender"]["options"][0] == {
        "value": "M", "valueLabel": "Male",
    }
    assert confidential_keys(meta) == {"KinCell"}
    assert numeric_ranges(meta) == {"BW": (400, 6000)}
    # fetch path: cache miss writes the cache
    p2 = tmp_path / "fetched.json"
    meta2 = load_field_metadata(p2, fetch=lambda: raw)
    assert p2.exists() and meta2.keys() == meta.keys()


# ------------------------------------------ S9 live-fetch leg (round 8)
def test_fetch_script_metadata_cache_protocol(tmp_path, caplog):
    """Reference cache semantics (conf/common/scripts.py:116-146) behind
    an injectable transport: miss -> fetch + process + overwrite cache
    with the processed pair list; hit (refresh=False) -> no transport
    call; refresh -> transport called again and cache rewritten;
    unconfigured/failing transport -> cached registry (or empty)."""
    import json
    import logging
    from collections import OrderedDict

    from neotree_data_pipeline_kedro_spark.sources.metadata import (
        fetch_script_metadata,
        load_processed_script,
        merge_script_data,
    )

    calls = []

    def fake_transport(payload):
        def t(url, headers):
            calls.append((url, headers))
            return payload
        return t

    raw_v1 = {
        "data": [
            {
                "screens": [
                    {
                        "fields": [
                            {"key": "BW", "dataType": "number"},
                            {"key": "BW", "dataType": "IGNORED-dup"},
                            {"key": "Sex", "dataType": "dropdown"},
                            {"noKey": True},
                        ]
                    }
                ]
            }
        ]
    }

    # miss -> fetch, process (first occurrence wins), cache written
    got = fetch_script_metadata(
        "adm", base_url="http://editor.example", api_key="k",
        cache_dir=tmp_path, transport=fake_transport(raw_v1),
    )
    assert got == OrderedDict(
        [("BW", {"key": "BW", "dataType": "number"}),
         ("Sex", {"key": "Sex", "dataType": "dropdown"})]
    )
    assert len(calls) == 1
    url, headers = calls[0]
    assert url.startswith("http://editor.example/api/scripts/metadata?data=")
    assert '"scriptsIds": ["adm"]' in url and headers["x-api-key"] == "k"
    # cache file holds the PROCESSED pair list (the reference overwrites
    # the raw download with it)
    on_disk = json.loads((tmp_path / "adm.json").read_text())
    assert on_disk == [["BW", {"key": "BW", "dataType": "number"}],
                       ["Sex", {"key": "Sex", "dataType": "dropdown"}]]

    # hit: refresh=False serves the cache without touching the transport
    got2 = fetch_script_metadata(
        "adm", base_url="http://editor.example", api_key="k",
        cache_dir=tmp_path, transport=fake_transport({}), refresh=False,
    )
    assert got2 == got and len(calls) == 1

    # refresh: transport consulted again, cache rewritten
    raw_v2 = {"data": [{"screens": [{"fields": [
        {"key": "Temp", "dataType": "number"}]}]}]}
    got3 = fetch_script_metadata(
        "adm", base_url="http://editor.example", api_key="k",
        cache_dir=tmp_path, transport=fake_transport(raw_v2),
    )
    assert list(got3) == ["Temp"] and len(calls) == 2
    assert load_processed_script("adm", tmp_path) == got3

    # unconfigured endpoint -> cached registry + warning
    with caplog.at_level(logging.WARNING):
        got4 = fetch_script_metadata("adm", cache_dir=tmp_path)
    assert got4 == got3
    assert any("endpoint not configured" in r.getMessage() for r in caplog.records)

    # failing transport -> cache fallback (documented divergence from the
    # reference, which would crash on the missing raw file)
    def boom(url, headers):
        raise OSError("connection refused")

    got5 = fetch_script_metadata(
        "adm", base_url="http://editor.example", api_key="k",
        cache_dir=tmp_path, transport=boom,
    )
    assert got5 == got3

    # unconfigured AND cold cache -> empty registry
    got6 = fetch_script_metadata("never-fetched", cache_dir=tmp_path)
    assert got6 == OrderedDict()

    # merge: existing keys win, new keys append in order
    merged = merge_script_data(got, got3)
    assert merged == OrderedDict([*got.items(), *got3.items()])
    assert merge_script_data(None, got3) == got3
