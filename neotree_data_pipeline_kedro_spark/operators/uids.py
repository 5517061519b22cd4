"""D8: duplicate-uid repair with deterministic surrogate ids (SURVEY §2.3).

Reference (data_tyding/maternal_data_duplicates_cleanup.py:12-64): sessions
sharing a uid but holding DIFFERENT DateAdmission values are distinct
patients; the first admission keeps the uid, every other (uid, date) group
gets a freshly minted NeoTree id ``[A-Z0-9]{2}ZZ-\\d{4}`` (random, collision
-checked against the sessions table, :50-64).

Random minting is not reproducible across a distributed re-run, so ids here
are a deterministic hash of (uid, date, salt) in the same surface format:
``upper(md5[0:2]) + 'ZZ-' + translate(md5[2:6], 'abcdef', '012345')``.
The repair is one lazy plan, with no driver-side action at build time:
every re-minted episode gets its candidate ids for salts 0.._SALTS, one
window over the candidate id marks the taken ones (a real or existing uid,
a salt-0 mint of a smaller episode, or any salt-0 mint for a later salt),
and the collided episodes — a tiny set, real uids almost never carry the
``ZZ`` infix and the minted space is ~2.6M ids — are resolved greedily in
(uid, date) order by one ``aggregate`` lambda in a single global group.

D8 runs only in the registry query ``d8_duplicate_uid_repair``. The
Engine keeps one session per (uid, scriptid), so its admissions table has
no uid with a second episode to repair (``plans.pipeline.Engine``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# a collided episode tries salts 1.._SALTS before the repair fails
_SALTS = 8

# over the collided episodes in (uid, date) order: each takes its first
# candidate that is neither taken nor picked by an earlier episode
_PICK = f"""
inline(zip_with(
  eps,
  aggregate(eps, CAST(array() AS array<string>), (picked, e) -> concat(picked, array(
    coalesce(
      try_element_at(
        filter(e.cands, c -> NOT c.taken AND NOT array_contains(picked, c.id)), 1).id,
      raise_error(format_string(
        'uid repair: no free surrogate id for episode (%s, %s) within {_SALTS} salts',
        e.u, e.d)))))),
  (e, p) -> struct(e.u AS u, e.d AS d, p AS new_uid)))
"""


def minted_uid(uid: Column, date: Column, salt: int | Column = 0) -> Column:
    """Deterministic ``XXZZ-NNNN`` surrogate for a (uid, date) episode."""
    salt_col = F.lit(str(salt)) if isinstance(salt, int) else salt.cast("string")
    h = F.md5(
        F.concat_ws("|", uid, F.coalesce(date.cast("string"), F.lit("\x00")), salt_col)
    )
    prefix = F.upper(F.substring(h, 1, 2))
    digits = F.translate(F.substring(h, 3, 4), "abcdef", "012345")
    return F.concat(prefix, F.lit("ZZ-"), digits)


def repair_duplicate_uids(
    df: DataFrame,
    uid_col: str = "uid",
    date_col: str = "date_admission",
    existing_uids: DataFrame | None = None,
) -> DataFrame:
    """Return df with ``uid`` rewritten so each (uid, admission-date) episode
    has a distinct id: the first date per uid (ascending, NULLs first — the
    reference keeps whichever row it iterates first; this is the documented
    deterministic choice) keeps the original, later dates get minted ids.
    Rows with a null uid or a null date keep their uid. The output columns
    are ``uid_col``, ``date_col``, then the rest of df's in order.

    ``existing_uids``: optional single-column frame of ids already taken
    (the reference's ``row_exists`` collision probe against
    public.sessions). If an episode finds no free id within ``_SALTS``
    salts, the query fails when it runs.
    """
    uid, date = F.col(uid_col), F.col(date_col)
    ranked = df.withColumn(
        "__rk", F.dense_rank().over(Window.partitionBy(uid).orderBy(date.asc_nulls_first()))
    )
    # a row with a null uid keeps it, and a null date always ranks first,
    # so neither mints an id
    cands = (
        ranked.filter((F.col("__rk") > 1) & uid.isNotNull() & date.isNotNull())
        .select(uid.alias("u"), date.alias("d"))
        .distinct()
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_SALTS))))
        .withColumn("id", minted_uid(F.col("u"), F.col("d"), F.col("salt")))
    )
    taken = df.select(uid.alias("id"))
    if existing_uids is not None:
        taken = taken.unionByName(
            existing_uids.select(F.col(existing_uids.columns[0]).alias("id"))
        )
    # a candidate is taken when its id is a real or existing uid (a row
    # without a salt), when it is a salt-0 id a smaller episode also mints,
    # or when it is a later salt's id that any episode mints at salt 0
    by_id = Window.partitionBy("id")
    first0 = F.min(F.when(F.col("salt") == 0, F.struct("u", "d"))).over(by_id)
    taken_flag = F.max(F.col("salt").isNull()).over(by_id) | F.when(
        F.col("salt") == 0, F.struct("u", "d") > first0
    ).otherwise(first0.isNotNull())
    episodes = (
        cands.unionByName(taken, allowMissingColumns=True)
        .withColumn("taken", taken_flag)
        # keep the candidate rows by their non-null (u, d), the join keys:
        # Catalyst then infers no null filter for one branch of `mapping`
        # alone, and both branches share one shuffle
        .filter(F.col("u").isNotNull() & F.col("d").isNotNull())
        .groupBy("u", "d")
        .agg(F.sort_array(F.collect_list(F.struct("salt", "id", "taken"))).alias("cands"))
    )
    collided = F.col("cands")[0]["taken"]
    resolved = (
        episodes.filter(collided)
        .agg(F.sort_array(F.collect_list(F.struct("u", "d", "cands"))).alias("eps"))
        .selectExpr(_PICK)
    )
    mapping = (
        episodes.filter(~collided)
        .select("u", "d", F.col("cands")[0]["id"].alias("new_uid"))
        .unionByName(resolved)
        .withColumnsRenamed({"u": uid_col, "d": date_col})
    )
    return (
        df.join(mapping, [uid_col, date_col], "left")
        .withColumn(uid_col, F.coalesce("new_uid", uid))
        .drop("new_uid")
    )
