"""Seeded input generators for the benchmark.

Two families, both deterministic in ``seed``:

* ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that ``plans.queries.QUERIES`` read,
  written as one parquet file per table. Value domains mirror the
  synthetic fixture the registry's oracle pairs were written against
  (uniform keys, 30-word document vocabulary with ~5% " dup" near-copies,
  unit-norm 64-d embeddings in 10 labelled clusters).
* ``backfill``: Neotree form-session exports in the reference envelope
  format (``{"sessions": [...]}`` per file), mixing new-format (dict) and
  old-format (list) ``entries``, re-uploads, dirty admission timestamps
  and admissions with and without a discharge. The batch carries the
  ground-truth counts the output checks compare against.

Only sizes and rates are fixed here; the seed picks the values, so runs
with different seeds do the same amount of work.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _day(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The registry's input tables at scale factor ``sf`` (sf=0.01 is
    1.5k customers, 15k orders, 60k lineitems, 10k events)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 901.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _day(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(_VOCAB, n)) for n in rng.integers(10, 100, n_docs)
    ]
    # ~5% near-duplicates: an earlier-or-later document's text plus " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# --------------------------------------------------------------- sessions

ADM_SCRIPT = "-PBADM0000000000000"
DIS_SCRIPT = "-PBDIS0000000000000"
FACILITY = "Harare NNU"

FIELD_INFO = {
    "admissions": {
        "Gestation": {"label": "Gestation", "type": "number", "options": []},
        "BirthWeight": {"label": "Birth weight", "type": "number", "options": []},
        "Temperature": {"label": "Temperature", "type": "number", "options": []},
        "OFC": {"label": "OFC", "type": "number", "options": []},
        "DateTimeAdmission": {"label": "Admitted", "type": "datetime", "options": []},
    },
    "discharges": {
        "BirthWeight": {"label": "Birth weight", "type": "number", "options": []},
        "Temperature": {"label": "Temperature", "type": "number", "options": []},
        "OFCDis": {"label": "OFC", "type": "number", "options": []},
        "DateTimeDischarge": {"label": "Discharged", "type": "datetime",
                              "options": []},
        "NeoTreeOutcome": {
            "label": "Outcome",
            "type": "dropdown",
            "options": [
                {"value": "DC", "valueLabel": "Discharged"},
                {"value": "NND", "valueLabel": "Died"},
                {"value": "ABS", "valueLabel": "Absconded"},
            ],
        },
    },
}

_OUTCOMES = (("DC", "Discharged"), ("NND", "Died"), ("ABS", "Absconded"))
_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
_BASE_MIN = int(np.datetime64("2024-01-01T00:00", "m").astype(np.int64))


def _iso(minute: int) -> str:
    return str(np.datetime64(_BASE_MIN + minute, "m")) + ":00"


def _new_entry(key: str, label: str, value: str) -> str:
    return f'"{key}":{{"values":{{"label":["{label}"],"value":["{value}"]}}}}'


def _old_entry(key: str, label: str, value: str) -> str:
    return f'{{"key":"{key}","values":[{{"label":"{label}","value":"{value}"}}]}}'


# Shares of the landing: re-uploads (copies of sessions in the same
# landing), old list-format admissions with a null envelope uid (repaired
# from ``NeoTreeID``), non-ISO or junk admission timestamps, and
# admissions discharged in the landing (the rest stay open).
DUP_RATE = 0.15
OLD_RATE = 0.3
DIRTY_RATE = 0.03
DISCHARGE_RATE = 0.6


@dataclass
class Batch:
    """One landing of export files plus the truth the checks use."""

    files: dict[str, str]  # file name -> envelope JSON text
    sessions: int  # sessions in the files, re-uploads included
    keys: set[tuple[str, str]]  # distinct (uid, scriptid)
    admissions: int  # distinct admission uids
    discharges: int  # distinct discharge uids

    @property
    def bytes(self) -> int:
        return sum(len(t) for t in self.files.values())


def uid(i: int) -> str:
    return f"{0xA000 + i // 10000:04X}-{i % 10000:04d}"


def _admission(r: np.random.Generator, i: int) -> tuple[str, tuple[int, int, int]]:
    """An admission session and the (birth weight, OFC, admission minute)
    its discharge repeats."""
    gest = int(r.integers(24, 43))
    bw = int(r.integers(80, 451)) * 10
    temp = f"{r.integers(340, 391) / 10:.1f}"
    ofc = int(r.integers(28, 39))
    minute = int(r.integers(0, 365 * 1440))
    adm = _iso(minute)
    roll = r.random()
    if roll < DIRTY_RATE / 2:
        d = np.datetime64(_BASE_MIN + minute, "m").item()
        adm = f"{d.day} {_MONTHS[d.month - 1]}, {d.year} {d.hour:02d}:{d.minute:02d}"
    elif roll < DIRTY_RATE:
        adm = "unknown"
    done = _iso(minute + 30)
    if r.random() < OLD_RATE:
        entries = "[" + ",".join(
            [
                _old_entry("NeoTreeID", "NeoTree ID", uid(i)),
                _old_entry("Gestation", "Gestation", str(gest)),
                _old_entry("BW", "Birth weight", str(bw)),
                _old_entry("NNUAdmTemp", "Temperature", temp),
                _old_entry("OFC", "OFC", str(ofc)),
                _old_entry("DateTimeAdmission", "Admitted", adm),
            ]
        ) + "]"
        head = '"uid":null,"appVersion":"2.4"'
    else:
        entries = "{" + ",".join(
            [
                _new_entry("NeoTreeID", "NeoTree ID", uid(i)),
                _new_entry("Gestation", "Gestation", str(gest)),
                _new_entry("BirthWeight", "Birth weight", str(bw)),
                _new_entry("Temperature", "Temperature", temp),
                _new_entry("OFC", "OFC", str(ofc)),
                _new_entry("DateTimeAdmission", "Admitted", adm),
            ]
        ) + "}"
        head = f'"uid":"{uid(i)}","appVersion":"v5.1.2"'
    text = (
        f'{{{head},"started_at":"{_iso(minute)}","completed_at":"{done}",'
        f'"script":{{"id":"{ADM_SCRIPT}"}},"entries":{entries}}}'
    )
    return text, (bw, ofc, minute)


def _discharge(r: np.random.Generator, i: int, adm: tuple[int, int, int]) -> str:
    bw, ofc, minute = adm
    minute += int(r.integers(1, 21)) * 1440
    code, label = _OUTCOMES[int(r.integers(0, 3))]
    entries = "{" + ",".join(
        [
            _new_entry("NeoTreeID", "NeoTree ID", uid(i)),
            _new_entry("BirthWeight", "Birth weight", str(bw)),
            _new_entry("Temperature", "Temperature", f"{r.integers(350, 381) / 10:.1f}"),
            _new_entry("OFCDis", "OFC", str(ofc)),
            _new_entry("DateTimeDischarge", "Discharged", _iso(minute)),
            _new_entry("NeoTreeOutcome", label, code),
        ]
    ) + "}"
    return (
        f'{{"uid":"{uid(i)}","appVersion":"v5.1.2","started_at":"{_iso(minute)}",'
        f'"completed_at":"{_iso(minute + 20)}",'
        f'"script":{{"id":"{DIS_SCRIPT}"}},"entries":{entries}}}'
    )


def backfill(seed: int, admissions: int, files: int) -> Batch:
    """A landing of ``admissions`` patients' sessions (``DISCHARGE_RATE`` of
    them discharged) plus ``DUP_RATE`` re-uploads, spread over ``files``
    export files."""
    r = np.random.default_rng([seed, 2])
    fresh: list[str] = []
    keys: set[tuple[str, str]] = set()
    # exactly round(rate * n) discharged, so every seed lands the same
    # number of sessions
    goes = set(r.choice(admissions, int(round(DISCHARGE_RATE * admissions)),
                        replace=False).tolist())
    for i in range(admissions):
        text, adm = _admission(r, i)
        fresh.append(text)
        keys.add((uid(i), ADM_SCRIPT))
        if i in goes:
            fresh.append(_discharge(r, i, adm))
            keys.add((uid(i), DIS_SCRIPT))
    n_dup = int(round(DUP_RATE * len(fresh)))
    sessions = fresh + [fresh[k] for k in r.integers(0, len(fresh), n_dup)]
    order = r.permutation(len(sessions))
    out = {
        f"export_0001_{f:02d}.json": '{"sessions":['
        + ",".join(sessions[k] for k in order[f::files]) + "]}"
        for f in range(files)
    }
    return Batch(out, len(sessions), keys, admissions, len(goes))


def write_batch(batch: Batch, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, text in batch.files.items():
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write(text)


def decode_sessions(batch: Batch) -> list[dict]:
    """Every session in the landing, parsed (used by the self-tests)."""
    return [s for t in batch.files.values() for s in json.loads(t)["sessions"]]
