"""S9: field-metadata registry source (SURVEY §2.1).

Reference (conf/common/scripts.py:33-177): the "webeditor" HTTP API serves
per-script field metadata ``{scriptid: {fieldKey: {key, type, dataType,
label, optional, minValue, maxValue, confidential, options: [{value,
valueLabel}]}}}``, cached as JSON under conf/local/scripts/. It drives
casting, label repair (operators/labels.py), confidentiality (redact) and
validation ranges.

Spark form: the registry is tiny driver-side state — load from the JSON
cache (or any fetcher callable), normalize, and either embed as literal
expressions (labels.py does this) or broadcast for UDF-side consumers.
No HTTP client here: the fetch is an injected callable so the engine stays
network-free; the cache file protocol matches the reference's.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path
from typing import Any


FieldMeta = dict[str, Any]
ScriptMeta = dict[str, dict[str, FieldMeta]]

_FIELD_KEYS = (
    "key",
    "type",
    "dataType",
    "label",
    "optional",
    "minValue",
    "maxValue",
    "confidential",
    "options",
)


def _normalize_field(key: str, raw: dict[str, Any]) -> FieldMeta:
    out: FieldMeta = {k: raw.get(k) for k in _FIELD_KEYS}
    out["key"] = out.get("key") or key
    opts = out.get("options")
    if opts:
        out["options"] = [
            {"value": str(o.get("value")), "valueLabel": o.get("valueLabel")}
            for o in opts
        ]
    return out


def load_field_metadata(
    cache_path: str | Path,
    fetch: Callable[[], ScriptMeta] | None = None,
) -> ScriptMeta:
    """Load the per-script field registry, reference cache protocol
    (scripts.py:61-67,121-127): read the JSON cache if present, else call
    ``fetch`` and write the cache. Returns
    ``{scriptid: {fieldKey: field_meta}}``."""
    p = Path(cache_path)
    if p.exists():
        raw = json.loads(p.read_text())
    elif fetch is not None:
        raw = fetch()
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(raw))
    else:
        raise FileNotFoundError(
            f"metadata cache {p} missing and no fetcher provided"
        )
    return {
        script: {k: _normalize_field(k, f) for k, f in (fields or {}).items()}
        for script, fields in raw.items()
    }


def confidential_keys(meta: ScriptMeta) -> set[str]:
    """Field keys flagged confidential anywhere in the registry — feeds the
    P6 redact operator (sql_functions.py:1140-1145)."""
    return {
        k
        for fields in meta.values()
        for k, f in fields.items()
        if f.get("confidential")
    }


def numeric_ranges(meta: ScriptMeta) -> dict[str, tuple[float | None, float | None]]:
    """{field_key: (minValue, maxValue)} for range validation (§2.11)."""
    out: dict[str, tuple[float | None, float | None]] = {}
    for fields in meta.values():
        for k, f in fields.items():
            if f.get("minValue") is not None or f.get("maxValue") is not None:
                out[k] = (f.get("minValue"), f.get("maxValue"))
    return out


# ---------------------------------------------------------------------------
# S9 live-fetch leg (reference conf/common/scripts.py:33-177): the one
# reference I/O path with no repo twin until round 8. The HTTP transport is
# INJECTED (any callable (url, headers) -> parsed JSON) so the engine stays
# network-free and tests use a fake; urllib_transport is provided for
# callers that genuinely want the network.
# ---------------------------------------------------------------------------

import logging as _logging
from collections import OrderedDict

_mlog = _logging.getLogger(__name__)

Transport = Callable[[str, dict[str, str]], dict]


def urllib_transport(url: str, headers: dict[str, str]) -> dict:
    """Stdlib HTTP GET -> parsed JSON (the reference uses requests.get
    with a 10s timeout, scripts.py:33-58). Import-gated so hermetic
    deployments never touch the network path."""
    import urllib.request

    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=10) as resp:  # noqa: S310
        return json.loads(resp.read().decode("utf-8"))


def _script_cache_file(cache_dir: str | Path, script_id: str) -> Path:
    return Path(cache_dir) / f"{script_id}.json"


def load_processed_script(
    script_id: str, cache_dir: str | Path
) -> "OrderedDict[str, dict[str, str]]":
    """Read the processed per-script field cache: a JSON list of
    (key, {key, dataType}) pairs, exactly the reference's on-disk shape
    (scripts.py:61-67). Missing file -> empty registry."""
    p = _script_cache_file(cache_dir, script_id)
    if p.exists():
        return OrderedDict(json.loads(p.read_text()))
    return OrderedDict()


def _process_raw_script(raw: dict) -> "OrderedDict[str, dict[str, str]]":
    """data -> screens -> fields walk keeping the FIRST occurrence of each
    field key, reduced to {key, dataType} (scripts.py:74-96)."""
    fields: "OrderedDict[str, dict[str, str]]" = OrderedDict()
    for entry in raw.get("data") or []:
        for screen in entry.get("screens", []) or []:
            for field in screen.get("fields", []) or []:
                if (
                    isinstance(field, dict)
                    and "key" in field
                    and "dataType" in field
                    and field["key"] not in fields
                ):
                    fields[field["key"]] = {
                        "key": field["key"],
                        "dataType": field["dataType"],
                    }
    return fields


def fetch_script_metadata(
    script_id: str,
    *,
    base_url: str | None = None,
    api_key: str | None = None,
    cache_dir: str | Path,
    transport: Transport | None = None,
    refresh: bool = True,
) -> "OrderedDict[str, dict[str, str]]":
    """Fetch + process + cache one script's field metadata, reference
    protocol (scripts.py:116-146):

    - no endpoint configured (base_url/api_key/transport missing) -> warn
      and serve the processed cache if present, else an empty registry
      (scripts.py:120-127);
    - otherwise GET ``{base_url}/api/scripts/metadata?data={json}`` with
      the x-api-key header, walk data->screens->fields keeping the first
      occurrence of each key, and OVERWRITE the cache file with the
      processed (key, {key, dataType}) pair list — the reference reuses
      one file for the raw download and the processed result; the
      processed form is what survives (scripts.py:96-107,138-146);
    - ``refresh=False`` serves an existing cache without calling the
      transport (cache hit); the reference's download_script always
      refreshes when configured, which is ``refresh=True``;
    - transport failure -> log and fall back to the cache (the reference
      would crash on a missing file here; falling back is the documented
      divergence — an ETL cron must survive a flaky metadata service).
    """
    cached = load_processed_script(script_id, cache_dir)
    if not refresh and cached:
        return cached
    if base_url is None or api_key is None or transport is None:
        _mlog.warning(
            "fetch_script_metadata(%s): endpoint not configured; %s",
            script_id,
            "using cached registry" if cached else "returning empty registry",
        )
        return cached
    payload = json.dumps(
        {"scriptsIds": [script_id.strip('"')], "returnDraftsIfExist": True}
    )
    url = f"{base_url}/api/scripts/metadata?data={payload}"
    headers = {"x-api-key": api_key, "Accept": "application/json"}
    try:
        raw = transport(url, headers)
    except Exception as exc:  # noqa: BLE001 — any transport failure degrades
        _mlog.error(
            "fetch_script_metadata(%s): transport failed (%s); %s",
            script_id,
            exc,
            "using cached registry" if cached else "returning empty registry",
        )
        return cached
    fields = _process_raw_script(raw)
    p = _script_cache_file(cache_dir, script_id)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(list(fields.items())))
    return fields


def merge_script_data(
    existing: "OrderedDict[str, dict[str, str]] | None",
    new: "OrderedDict[str, dict[str, str]]",
) -> "OrderedDict[str, dict[str, str]]":
    """Merge with priority to EXISTING data (scripts.py:179-203): fresh
    fetches never overwrite keys the pipeline already runs with — schema
    stability beats freshness mid-run."""
    if existing is None:
        return new
    merged = OrderedDict(existing)
    for k, v in new.items():
        if k not in merged:
            merged[k] = v
    return merged
