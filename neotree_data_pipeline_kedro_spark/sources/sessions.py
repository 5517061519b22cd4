"""Session/JSON layer: the reference pipeline's front door (SURVEY §2.1 S1,
§2.2 P4, §2.7 exploders).

The reference ingests Android-app form sessions as JSON envelopes whose
``entries`` payload exists in TWO formats — an old list
``[{key, values:[{label,value}...]}, ...]`` and a new dict
``{Key: {values: {label:[...], value:[...]}}, ...}`` — and restructures them
row-at-a-time in pandas (data_tyding/import_raw_jsons.py:31-215,
extract_key_values.py:13-113, json_restructure.py:9-81). Here both formats
parse declaratively with ``from_json`` (a JSON value that doesn't match the
schema parses to NULL, so old/new detection is a coalesce, not an if-ladder)
and restructuring is explode + window — no Python in the row path, fully
partition-parallel.

Fidelity notes (divergences are deliberate and documented):
- The reference stringifies Python ``None`` into ``'NONE'`` uids via
  ``str(row['uid']).upper()`` (extract_key_values.py:47); we yield NULL —
  the reference's own validity filters (P3) treat those tokens as null.
- Key dedup: for a key occurring twice the reference's dict assignment keeps
  the LAST occurrence, except ``completed_at`` which keeps the FIRST
  (extract_key_values.py:104-106); replicated with a window over the entry
  position.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# old format: entries is a LIST of {key, values: [{label, value}...]}
OLD_ENTRIES_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField(
                "values",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("label", T.StringType()),
                            T.StructField("value", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
)

# new format: entries is a DICT keyed by field name
NEW_ENTRIES_SCHEMA = T.MapType(
    T.StringType(),
    T.StructType(
        [
            T.StructField(
                "values",
                T.StructType(
                    [
                        T.StructField("label", T.ArrayType(T.StringType())),
                        T.StructField("value", T.ArrayType(T.StringType())),
                    ]
                ),
            )
        ]
    ),
)

# repeatables: {table_name: [{id, createdAt, <field>: scalar-or-{value,label}}]}
# inner entries parse as map<string,string>; dict-valued fields keep their raw
# JSON (Spark's JSON parser captures unparsed objects into StringType fields)
REPEATABLES_SCHEMA = T.MapType(
    T.StringType(), T.ArrayType(T.MapType(T.StringType(), T.StringType()))
)

# diagnoses/drugs/fluids: list of single-key dicts {ParentName: {child: val}}
LIST_SECTION_SCHEMA = T.ArrayType(
    T.MapType(T.StringType(), T.MapType(T.StringType(), T.StringType()))
)

_UID_KEYS = ("uid", "UID", "NeoTreeID", "NeoTreeIDBC", "NUID_BC", "NUID_M", "NUID_S")

# per-file script rerouting (import_raw_jsons.py:190-194): one app script was
# reused for multiple sites, disambiguated by export filename
DEFAULT_SCRIPT_OVERRIDES = {
    "Chinhoyi_Maternity_Outcome.json": "-MYk0A3-Z_QjaXYU5MsS",
}


def read_session_files(
    spark,
    path_glob: str,
    script_overrides: dict[str, str] | None = None,
    existing_uids: DataFrame | None = None,
) -> DataFrame:
    """S1 front half (import_raw_jsons.py:31-215): scan ``*.json`` exports,
    explode the ``{"sessions": [...]}`` envelope, repair the uid from the
    entries when the envelope uid is null (old and new format), reroute
    per-file script ids, and keep only sessions with a uid and a script id.

    Spark-first shape: one ``text(wholetext)`` scan, ``from_json`` with an
    ``ARRAY<STRING>`` element type keeps each session as its raw JSON string
    (the engine's ``data`` column) without committing to a session schema;
    all per-session field pulls are ``get_json_object`` — no Python in the
    row path, files parallelize across executors.

    A ``path_glob`` that matches nothing raises ``FileNotFoundError``.

    Returns ``(id, uid, scriptid, ingested_at, data, src_file)``. ``id`` is
    the ingest sequence, which ``Engine.deduplicate``'s latest-wins reads
    (the reference's Postgres serial): the matched files in base-name
    order (exports are named by date), the full path breaking ties, so
    ``id = file ordinal * 2^32 + position in the file``. It does not
    depend on where the landing sits. ``ingested_at`` comes from the
    session's completed/started timestamps when present.

    ``existing_uids``: optional single-column frame of uids already in the
    sink — matching sessions are skipped (the reference's
    checkDuplicateDatabaseRecord duplicate probe, :212-215).
    """
    from ..functions.timestamps import parse_timestamp_multi

    # Expand the glob here with Hadoop's globStatus, as Spark's reader
    # would: Spark probes a single read path for a streaming-sink metadata
    # directory, and a literal glob makes that probe log a
    # FileNotFoundException stack trace. Spark globs every path it is
    # given, so glob characters in the matched names are escaped.
    pattern = spark._jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    matched = [
        re.sub(r"[\\{}\[\]*?]", r"\\\g<0>", st.getPath().toString())
        for st in fs.globStatus(pattern) or ()
    ]
    if not matched:
        raise FileNotFoundError(f"no file matches {path_glob}")
    files = spark.read.text(matched, wholetext=True)
    # inputFiles() reads the listing the read already made (no job), in
    # the URI form input_file_name() returns
    ordered = sorted(files.inputFiles(), key=lambda u: (u.rsplit("/", 1)[-1], u))
    sess = files.select(
        F.input_file_name().alias("src_file"),
        F.array_position(F.lit(ordered), F.input_file_name()).alias("ordinal"),
        F.posexplode(
            F.from_json("value", "STRUCT<sessions: ARRAY<STRING>>")["sessions"]
        ).alias("pos", "data"),
    )
    overrides = (
        DEFAULT_SCRIPT_OVERRIDES if script_overrides is None else script_overrides
    )
    scriptid = F.get_json_object("data", "$.script.id")
    for suffix, sid in overrides.items():
        scriptid = F.when(
            F.col("src_file").endswith(suffix), F.lit(sid)
        ).otherwise(scriptid)
    uid = repair_uid(
        F.get_json_object("data", "$.uid"),
        F.get_json_object("data", "$.entries"),
    )
    out = (
        sess.withColumn("id", F.shiftleft("ordinal", 32) + F.col("pos"))
        .withColumn("uid", uid)
        .withColumn("scriptid", scriptid)
        .withColumn(
            "ingested_at",
            F.coalesce(
                parse_timestamp_multi(F.get_json_object("data", "$.completed_at")),
                parse_timestamp_multi(F.get_json_object("data", "$.started_at")),
            ),
        )
        .filter(F.col("uid").isNotNull() & F.col("scriptid").isNotNull())
        .select("id", "uid", "scriptid", "ingested_at", "data", "src_file")
    )
    if existing_uids is not None:
        ex = existing_uids.select(
            F.col(existing_uids.columns[0]).alias("uid")
        ).dropDuplicates(["uid"])
        out = out.join(ex, "uid", "left_anti")
    return out


_REPEATABLE_META_KEYS = ("id", "createdAt", "requiredComplete", "hasCollectionField")


def _sanitize_key(col: Column) -> Column:
    """``re.sub(r'\\W+','_',key).strip('_')`` (extract_key_values.py:257-258)."""
    return F.regexp_replace(F.regexp_replace(col, r"\W+", "_"), r"^_+|_+$", "")


def parse_entries(entries_json: Column) -> tuple[Column, Column]:
    """(old, new) parses of a raw ``entries`` JSON string. A JSON array
    nulls out under the map schema, but the converse is NOT clean: from_json
    with an ArrayType wraps a bare object into a one-element array whose
    struct fields are null. Callers must therefore detect old-format by the
    presence of keyed entries, not by ``old.isNotNull()`` (entry_rows does);
    either way no appVersion heuristic is needed
    (cf. extract_key_values.py:77's version sniffing)."""
    return (
        F.from_json(entries_json, OLD_ENTRIES_SCHEMA),
        F.from_json(entries_json, NEW_ENTRIES_SCHEMA),
    )


def repair_uid(
    uid: Column, entries_json: Column, keys: tuple[str, ...] = _UID_KEYS
) -> Column:
    """S1 uid repair (import_raw_jsons.py:51-133 + extract_key_values.py:84-103):
    a null/missing envelope uid is recovered from the LAST entry whose key is
    a known uid carrier (the reference's sequential overwrites keep the last
    match), old and new format alike. Result is upper-cased; null-ish tokens
    become NULL."""
    old, new = parse_entries(entries_json)
    # F.get / try_element_at: out-of-range must yield NULL, not an ANSI error
    old_hit = F.get(
        F.try_element_at(F.filter(old, lambda e: e["key"].isin(*keys)), F.lit(-1))[
            "values"
        ],
        0,
    )["value"]
    new_hits = F.filter(F.map_entries(new), lambda kv: kv["key"].isin(*keys))
    new_hit = F.get(
        F.try_element_at(new_hits, F.lit(-1))["value"]["values"]["value"], 0
    )
    # format detection can NOT be `old.isNotNull()`: from_json with an array
    # schema parses a top-level JSON OBJECT as a one-element array of
    # null-field structs, so dict-format entries would wrongly take the old
    # branch. Coalescing through both hits is format-agnostic: a dict
    # payload yields a NULL old_hit (no keys match), a list payload a NULL
    # new_hit (map parse fails).
    repaired = F.coalesce(uid, old_hit, new_hit)
    up = F.upper(F.trim(repaired))
    return F.when(
        up.isin("", "NONE", "NULL", "NAN", "UNKNOWN", "UNKOWN"), F.lit(None)
    ).otherwise(up)


def entry_rows(
    df: DataFrame,
    id_cols: tuple[str, ...] = ("uid",),
    entries_col: str = "entries",
) -> DataFrame:
    """Restructure both entry formats into one row per (session, key):
    ``(*id_cols, key, labels, values, value, label, is_mcl)``.

    - ``labels``/``values`` carry the full arrays (MCL fields keep every
      selected option, json_restructure.py:12-23 / :50-53);
    - ``value``/``label`` are the single-value projection (first element,
      json_restructure.py:30-36 / :56-61);
    - ``is_mcl`` marks multi-label fields plus the ``*Oth`` / ``AdmReason``
      forced-MCL set (json_restructure.py:35-36, :62-64);
    - duplicate keys resolve last-wins (``completed_at``: first-wins), per
      extract_key_values.py:104-106.
    """
    old, new = parse_entries(F.col(entries_col))
    base = df.withColumn("__old", old).withColumn("__new", new)

    # Normalize BOTH formats to one array<struct<key,labels,values>> and
    # explode once: a single scan + single generate instead of the former
    # old-branch ∪ new-branch shape, which read the base (and re-ran the
    # envelope JSON parse) twice. Format detection stays the null-coalesce.
    entry_struct = lambda key, labels, values: F.struct(  # noqa: E731
        key.alias("key"), labels.alias("labels"), values.alias("values")
    )
    old_norm = F.transform(
        F.filter(F.col("__old"), lambda e: e["key"].isNotNull()),
        lambda e: entry_struct(
            e["key"], e["values"]["label"], e["values"]["value"]
        ),
    )
    new_norm = F.transform(
        # "repeatables" is not a form field (json_restructure.py:47-48)
        F.filter(
            F.map_entries(F.col("__new")),
            lambda kv: ~kv["key"].contains("repeatables"),
        ),
        lambda kv: entry_struct(
            F.trim(kv["key"]),
            kv["value"]["values"]["label"],
            kv["value"]["values"]["value"],
        ),
    )
    # Detection nuance: from_json with an ArrayType WRAPS a bare JSON
    # object into a one-element array, so a new-format dict "parses" as old
    # too — but its wrapped entry has no `key` field and old_norm filters
    # it out. A non-empty old_norm is therefore the real old-format test.
    unified = F.when(F.size(old_norm) > 0, old_norm).otherwise(new_norm)
    rows = (
        base.select(*id_cols, F.posexplode(unified).alias("__pos", "__e"))
        .select(
            *id_cols,
            "__pos",
            F.col("__e.key").alias("key"),
            F.col("__e.labels").alias("labels"),
            F.col("__e.values").alias("values"),
        )
    )

    # last-wins per key; completed_at first-wins. The window partitions by
    # the session only and keeps the first row of each key run, so its
    # exchange is the one a per-session groupBy downstream (Engine.tidy's
    # pivot) needs; keys are never null (both formats filter them out).
    order = F.when(F.col("key") == "completed_at", F.col("__pos")).otherwise(
        -F.col("__pos")
    )
    w = Window.partitionBy(*id_cols).orderBy("key", order)
    rows = (
        rows.withColumn("__prev", F.lag("key").over(w))
        .filter(~F.col("__prev").eqNullSafe(F.col("key")))
        .drop("__prev", "__pos")
    )

    is_mcl = (
        (F.size("labels") > 1)
        | F.col("key").endswith("Oth")
        | (F.col("key") == "AdmReason")
    )
    return rows.select(
        *id_cols,
        "key",
        "labels",
        "values",
        F.get("values", 0).alias("value"),
        F.get("labels", 0).alias("label"),
        is_mcl.alias("is_mcl"),
    )


def explode_mcl(
    rows: DataFrame,
    id_cols: tuple[str, ...] = ("uid",),
    drop_labels: tuple[str, ...] = ("Other",),
) -> DataFrame:
    """One row per (session, MCL key, selected option label), dropping
    null/"Other" labels (explode_mcl_columns.py:8-43)."""
    return (
        rows.filter("is_mcl")
        .select(*id_cols, "key", F.explode("labels").alias("mcl_label"))
        .filter(F.col("mcl_label").isNotNull() & ~F.col("mcl_label").isin(*drop_labels))
    )


def explode_repeatables(
    df: DataFrame,
    script: str,
    entries_col: str = "entries",
    id_cols: tuple[str, ...] = ("uid", "facility", "review_number"),
) -> DataFrame:
    """Repeatable form groups → one row per entry
    (extract_key_values.py:263-322): ``(*id_cols, script_table, form_id,
    created_at, fields map<key, struct<value,label>>)``.

    Entries missing id/createdAt are dropped; meta keys are excluded from
    ``fields``; field keys are sanitized; dict-valued fields contribute
    (value, label), scalars duplicate into both (reference :309-314). The
    per-table wide projection happens at write time — the field set is
    dynamic, a map column keeps the scan schema stable at 100 TB.
    """
    rep = F.from_json(
        F.get_json_object(F.col(entries_col), "$.repeatables"), REPEATABLES_SCHEMA
    )
    tables = df.withColumn("__rep", rep).filter(F.col("__rep").isNotNull())
    rows = (
        tables.select(*id_cols, F.explode("__rep").alias("__table", "__entries"))
        .select(*id_cols, "__table", F.explode("__entries").alias("__entry"))
        .filter(
            (F.col("__entry")["id"].isNotNull())
            & (F.col("__entry")["id"] != "")
            & (F.col("__entry")["createdAt"].isNotNull())
            & (F.col("__entry")["createdAt"] != "")
        )
    )
    script_table = F.lower(
        F.regexp_replace(F.concat(F.lit(script + "_"), F.col("__table")), r"\s+", "")
    )
    # the fields map is rebuilt per entry with higher-order fns — the grouping
    # key is exactly the parent row, so the former explode_outer → groupBy/
    # collect_list round-trip (a full shuffle) collapses into one narrow
    # projection chain.
    # Two chained transforms, not one: the {value,label} parse must feed four
    # places (null test, value/label projection, scalar fallback), and a
    # lambda-variable field reference is cheap where re-inlining the
    # from_json tree four times is not (codegen size).
    vl_schema = T.StructType(
        [
            T.StructField("value", T.StringType()),
            T.StructField("label", T.StringType()),
        ]
    )
    staged = F.transform(
        F.filter(
            F.map_entries("__entry"),
            lambda kv: ~kv["key"].isin(*_REPEATABLE_META_KEYS),
        ),
        lambda kv: F.struct(
            _sanitize_key(kv["key"]).alias("key"),
            kv["value"].alias("raw"),
            F.from_json(kv["value"], vl_schema).alias("parsed"),
        ),
    )
    fields = F.map_from_entries(
        F.transform(
            staged,
            lambda e: F.struct(
                e["key"].alias("key"),
                F.when(
                    e["parsed"].isNotNull()
                    & (
                        e["parsed"]["value"].isNotNull()
                        | e["parsed"]["label"].isNotNull()
                    ),
                    F.struct(
                        e["parsed"]["value"].alias("value"),
                        e["parsed"]["label"].alias("label"),
                    ),
                ).otherwise(
                    F.struct(e["raw"].alias("value"), e["raw"].alias("label"))
                ).alias("v"),
            ),
        )
    )
    return rows.select(
        *id_cols,
        script_table.alias("script_table"),
        F.col("__entry")["id"].alias("form_id"),
        F.col("__entry")["createdAt"].alias("created_at"),
        fields.alias("fields"),
    )


def explode_list_section(
    df: DataFrame,
    section_col: str,
    parent_alias: str,
    id_cols: tuple[str, ...] = ("uid", "facility"),
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """Diagnoses/drugs/fluids exploder (extract_key_values.py:115-255):
    the section is a list of single-key dicts; the reference dict-merges the
    list (later elements override the same parent key) then emits one row
    per parent with sanitized child columns. Output: ``(*id_cols,
    <parent_alias>, fields map<child_key, string>, *extra)``. ``extra``
    columns are evaluated against the INPUT frame (e.g. an appVersion
    projection) and carried through the explode."""
    extra = extra or {}
    sec = F.from_json(F.col(section_col), LIST_SECTION_SCHEMA)
    base = df.withColumn("__sec", sec)
    for name, col in extra.items():
        base = base.withColumn(name, col)
    carry = [*id_cols, *extra.keys()]
    rows = (
        base.filter(F.col("__sec").isNotNull() & (F.size("__sec") > 0))
        .select(*carry, F.posexplode("__sec").alias("__pos", "__m"))
        .select(*carry, "__pos", F.explode("__m").alias("__parent", "__children"))
    )
    # reduce(lambda a,b: {**a,**b}) keeps the LAST occurrence of a parent key
    w = Window.partitionBy(*id_cols, "__parent").orderBy(F.desc("__pos"))
    rows = rows.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    # child keys: re.sub('[^A-Za-z0-9_ ]+','', key.replace('-','_').replace(' ',''))
    clean_child = lambda c: F.regexp_replace(  # noqa: E731
        F.regexp_replace(F.regexp_replace(c, "-", "_"), " ", ""),
        "[^A-Za-z0-9_ ]+",
        "",
    )
    return rows.select(
        *id_cols,
        F.col("__parent").alias(parent_alias),
        F.transform_keys("__children", lambda k, v: clean_child(k)).alias("fields"),
        *extra.keys(),
    )
