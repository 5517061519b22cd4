"""Mutable-sink family (SURVEY §2.1 S7/S8, §2.4 J7): the reference mutates
Postgres tables in place (ON CONFLICT upserts, UPDATE..FROM VALUES, reconcile
UPDATEs); on an immutable warehouse these become pure DataFrame transforms —
compute the post-mutation table and overwrite/append the parquet sink.

Determinism: the reference's per-row sequential writes make "last writer"
depend on DataFrame iteration order; every operator here takes an explicit
``order`` so the winner is reproducible under any partitioning (divergences
from the reference's arbitrary-order behavior are *resolutions*, not drift).

Scale: each operator is one equi-shuffle on its key set (AQE handles skew);
no per-row round trips, no driver-side loops. The reference's LIMIT 10000
reconcile band-aid (sql_functions.py:1993) is dropped — Spark needs no cap.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.booleans import bool_map
from ..functions.nulls import nullify
from ..functions.timestamps import parse_timestamp_multi

UPSERT_KEY = ("uid", "form_id", "created_at", "facility", "review_number")


def _keep_one(df: DataFrame, keys: Sequence[str], order: Sequence[Column]) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_by_key(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str] = UPSERT_KEY,
    order: Sequence[Column] = (),
) -> DataFrame:
    """S7 upsert (sql_functions.py:786-909): INSERT .. ON CONFLICT (5-part
    key) DO UPDATE SET <incoming cols> = EXCLUDED.

    Post-state semantics:
    - key matched: incoming's columns overwrite (NULLs included — EXCLUDED
      assignment is unconditional), target-only columns persist;
    - key only in target: row unchanged (incoming-only columns NULL);
    - key only in incoming: inserted (target-only columns NULL).

    ``order``: ranking that picks the winner among intra-batch duplicate
    keys (the reference's sequential loop keeps the last row it happens to
    iterate; pass e.g. ``[F.desc("ingested_at")]``).
    """
    keys = list(keys)
    if order:
        incoming = _keep_one(incoming, keys, list(order))
    target_only = [c for c in target.columns if c not in incoming.columns]
    unchanged = target.join(incoming.select(*keys).distinct(), keys, "left_anti")
    upserted = incoming.join(
        target.select(*keys, *target_only), keys, "left"
    )
    return unchanged.unionByName(upserted, allowMissingColumns=True)


def keyed_bulk_update(
    target: DataFrame,
    updates: DataFrame,
    order: Sequence[Column] = (),
    alt_key: str = "unique_key_dis",
) -> DataFrame:
    """S8 bulk keyed UPDATE (sql_functions.py:912-1097): target rows
    matching an update row on ``uid = v.uid AND facility = v.facility AND
    (unique_key match OR unique_key_dis match)`` take the update's values
    for every non-key column; other rows are untouched.

    The reference coerces each VALUES literal to the target column's type
    (bool token map, numeric coerce-or-NULL, multi-format timestamp parse,
    null-token set → NULL); here the same repairs apply per target dtype
    via the shared scalar family. ``order`` deterministically picks one
    update when several match the same target row.
    """
    key_cols = ["uid", "facility", "unique_key"]
    has_alt = alt_key in updates.columns and alt_key in target.columns
    skip = set(key_cols) | {alt_key, "facility_dis"}
    update_cols = [c for c in updates.columns if c not in skip]

    t = target.withColumn("__tid", F.monotonically_increasing_id())
    v = updates.select(
        *[F.col(c).alias(f"__v_{c}") for c in updates.columns]
    )
    cond = (
        (F.col("uid") == F.col("__v_uid"))
        & (F.col("facility") == F.col("__v_facility"))
    )
    key_match = F.col("unique_key").isNotNull() & (
        F.col("unique_key") == F.col("__v_unique_key")
    )
    if has_alt:
        key_match = key_match | (
            F.col(alt_key).isNotNull()
            & F.col(f"__v_{alt_key}").isNotNull()
            & (F.col(alt_key) == F.col(f"__v_{alt_key}"))
        )
    joined = t.join(v, cond & key_match, "left")
    # one winning update per target row
    tie = [o for o in order] or [F.col("__v_unique_key").asc_nulls_last()]
    joined = _keep_one(joined, ["__tid"], tie)

    matched = F.col("__v_uid").isNotNull()
    out_cols = []
    for c in target.columns:
        if c in update_cols:
            vcol = F.col(f"__v_{c}")
            dt = target.schema[c].dataType.simpleString()
            if dt == "boolean":
                coerced = bool_map(vcol.cast("string"))
            elif dt in ("timestamp", "date"):
                coerced = parse_timestamp_multi(vcol.cast("string")).cast(dt)
            elif dt in ("double", "float", "int", "bigint", "decimal") or dt.startswith(
                "decimal"
            ):
                coerced = nullify(vcol.cast("string")).try_cast(dt)
            else:
                coerced = nullify(vcol.cast("string"))
            out_cols.append(F.when(matched, coerced).otherwise(F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def reconcile_update(
    table: DataFrame,
    incoming: DataFrame,
    present_flag: str,
    absent_flag: str,
    order: Sequence[Column] = (),
) -> DataFrame:
    """J7 reconcile (sql_functions.py:1960-2160): rows holding only one half
    of the admission/discharge lifecycle (``present_flag`` true, and
    ``absent_flag`` false or not yet closed) are completed from the FIRST
    matching incoming row on (uid, facility): incoming's columns overwrite,
    ``absent_flag`` and ``is_closed`` become true. Everything else is
    untouched.

    ``reconcile_update(t, discharges, 'has_admission', 'has_discharge')``
    is update_has_admission_to_is_closed; swap the flags and feed
    admissions for the mirror pass (:2040-2115).
    """
    inc_cols = [c for c in incoming.columns if c not in ("uid", "facility")]
    first = _keep_one(
        incoming,
        ["uid", "facility"],
        list(order) or [F.col(f"`{inc_cols[0]}`").asc_nulls_last()],
    )
    v = first.select(
        "uid",
        "facility",
        F.lit(True).alias("__v_hit"),
        *[F.col(f"`{c}`").alias(f"__v_{c}") for c in inc_cols],
    )
    eligible = F.col(present_flag) & (
        ~F.coalesce(F.col(absent_flag), F.lit(False))
        | ~F.coalesce(F.col("is_closed"), F.lit(False))
    )
    joined = table.join(v, ["uid", "facility"], "left")
    matched = eligible & F.coalesce(F.col("__v_hit"), F.lit(False))
    out = []
    for c in table.columns:
        cur = F.col(f"`{c}`")
        if c in (absent_flag, "is_closed"):
            out.append(F.when(matched, F.lit(True)).otherwise(cur).alias(c))
        elif c in inc_cols:
            out.append(
                F.when(matched, F.col(f"`__v_{c}`")).otherwise(cur).alias(c)
            )
        else:
            out.append(cur)
    return joined.select(*out)


def apply_cdc(
    changelog: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    *,
    delete_op: str = "D",
    base: DataFrame | None = None,
) -> DataFrame:
    """Collapse an insert/update/delete change log into the final snapshot
    — the batch CDC-apply that replays what the reference performs row by
    row against Postgres (sql_functions.py's insert/update/delete calls)
    as ONE deterministic transform: the highest-``seq_col`` change per key
    wins, and a winning delete removes the key.

    ``base``, when given, is the prior snapshot; its rows participate as
    seq-NULL entries that lose to any change for the same key (desc order,
    NULLS LAST), so unchanged keys pass through untouched.

    Scale shape: one window shuffle on the key set — the same single
    exchange as D1 last-writer dedup, with delete tombstones folded into
    the same pass instead of a second scan. AQE splits skewed reorder
    keys; no driver loop, no per-row round trips.
    """
    keys = list(keys)
    log = changelog
    if base is not None:
        log = changelog.unionByName(
            base.withColumn(op_col, F.lit("I")).withColumn(
                seq_col, F.lit(None).cast(changelog.schema[seq_col].dataType)
            ),
            allowMissingColumns=True,
        )
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc_nulls_last())
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != F.lit(delete_op)))
        .drop("__rn")
    )
