"""Join operator family (SURVEY.md §2.4, J1-J10).

Plain equi/anti/semi joins are one-liners Catalyst already optimizes; the
custom pieces the reference needs are:

- ``best_match_join`` (J2): fuzzy 1:N -> best-scoring-1:1 resolution via a
  window, replacing the reference's pandas idxmax loop
  (create_joined_table_and_derived_columns.py:268-394).
- ``asof_join`` (J3 fallback / W6): nearest-preceding match implemented with
  the union+last-non-null window trick — O(n log n) per key, NO join
  explosion, survives 100 TB (a naive join+filter would materialize every
  candidate pair).
- ``tiered_asof_assignment`` (J3): the reference's greedy, order-dependent
  1:1 admission<->discharge assignment (merge_all.py:143-511). The greedy
  scan is inherently sequential *within* a (uid, facility) group but groups
  are tiny (a patient's episodes), so it runs as one ``aggregate``
  higher-order function per group — full cross-group parallelism,
  deterministic within-group order, no Python worker.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def anti_join(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> DataFrame:
    """NOT EXISTS (J4; assorted_queries.py:425-472)."""
    return left.join(right.select(*keys).dropDuplicates(list(keys)), list(keys), "left_anti")


def semi_join(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> DataFrame:
    """EXISTS (J5; assorted_queries.py:446-472,509-550)."""
    return left.join(right.select(*keys).dropDuplicates(list(keys)), list(keys), "left_semi")


def best_match_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    score: Callable[[DataFrame], Column],
    tiebreak: Sequence[Column],
    how: str = "left",
) -> DataFrame:
    """J1+J2: left join that may fan out, then keep the best-scoring right
    row per left row.

    ``score`` builds the match-score column from the joined frame (the
    reference's OFC/Gestation/BirthWeight closeness,
    create_joined_table_and_derived_columns.py:268-394); ``tiebreak`` makes
    the argmax deterministic where the reference relied on pandas frame
    order ("all-(-1) => keep first").
    """
    left_idx = left.withColumn("__lid", F.monotonically_increasing_id())
    joined = left_idx.join(right, list(keys), how)
    scored = joined.withColumn("__score", score(joined))
    w = Window.partitionBy("__lid").orderBy(F.desc("__score"), *tiebreak)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__lid", "__score")
    )


def topk_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    score: Callable[[DataFrame], Column],
    tiebreak: Sequence[Column],
    k: int,
    how: str = "inner",
    rank_col: str = "match_rank",
    score_col: str | None = None,
) -> DataFrame:
    """``best_match_join``'s top-k generalization: the blocked equi-join
    may fan out, then each left row keeps its ``k`` best-scoring right
    rows with a 1-based rank — candidate retrieval for entity
    resolution and recommendation shortlists (top-1 resolves, top-k
    feeds a downstream verifier). Same scale shape as best_match_join:
    the join shuffles on the blocking ``keys``, the rank window
    partitions on the left row id, so per-partition work is that row's
    candidate count — callers choose blocking keys that bound it (the
    same contract the fuzzy/grid joins document). ``tiebreak`` makes
    the cut deterministic at equal scores; ``score_col`` (optional)
    keeps the computed score in the output.

    ``how`` is restricted to ``inner`` (drop left rows with no
    candidates) and ``left`` (keep them: an unmatched left row
    surfaces EXACTLY ONCE with rank 1, NULL score, and NULL right
    columns — the "no candidates found" sentinel a downstream
    verifier can branch on). The NULL-score sentinel is ENFORCED, not
    merely hoped for: a right-side match marker is carried through the
    join and the score is nulled where it is absent, so even a
    ``score`` built from coalesce/literals cannot fabricate a non-NULL
    score for a candidate-less row. Other join types have no sensible
    top-k-per-left-row meaning and raise."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"topk_join: how={how!r} not supported; use 'inner' (drop "
            "candidate-less left rows) or 'left' (keep them as a "
            "single rank-1 row with NULL score/right columns)"
        )
    left_idx = left.withColumn("__lid", F.monotonically_increasing_id())
    rhs = right.withColumn("__matched", F.lit(True)) if how == "left" else right
    joined = left_idx.join(rhs, list(keys), how)
    scored = joined.withColumn("__score", score(joined))
    if how == "left":
        scored = scored.withColumn(
            "__score",
            F.when(F.col("__matched").isNull(), F.lit(None)).otherwise(
                F.col("__score")
            ),
        ).drop("__matched")
    w = Window.partitionBy("__lid").orderBy(F.desc("__score"), *tiebreak)
    out = (
        scored.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop("__lid")
    )
    if score_col is not None:
        out = out.withColumnRenamed("__score", score_col)
    else:
        out = out.drop("__score")
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
    direction: str = "backward",
    tiebreak: Sequence[str] = (),
    tolerance: int | float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` per key (direction='backward'; 'forward' gives
    earliest right_ts >= left_ts).

    ``tolerance`` (pandas merge_asof semantics): when set, a carried match
    farther than ``tolerance`` from the left timestamp is nulled out —
    the right-value columns become NULL exactly as if no right row had
    preceded it. Requires NUMERIC ts columns (epoch-scaled ints/doubles,
    the portable form) so the gap is plain subtraction; the matched
    right ts is carried internally only when tolerance is set, so the
    tolerance-free plan is unchanged.

    Implemented by unioning both sides on a common time axis and carrying
    the last non-null right value forward with
    ``last(..., ignorenulls=True)`` over an ordered window — one shuffle on
    (keys, ts), no pairwise candidate explosion (reference's row loop:
    merge_all.py:345-365).

    ``tiebreak``: right-side column names appended to the window order so
    the carried row is deterministic when several right rows share
    (keys, right_ts) — the greatest tiebreak tuple wins. Callers whose right
    side is unique per (keys, right_ts) may omit it; otherwise the total
    order the window needs is on the caller (same contract as the window
    operators).
    """
    missing = set(tiebreak) - set(right_vals)
    if missing:
        raise ValueError(f"asof_join tiebreak columns must be in right_vals: {missing}")
    passthru = [c for c in left.columns if c not in keys and c != left_ts]
    rts_extra = (
        [F.col(right_ts).alias("__r___rts")] if tolerance is not None else []
    )
    rts_extra_l = (
        [F.lit(None).cast(right.schema[right_ts].dataType).alias("__r___rts")]
        if tolerance is not None
        else []
    )
    side_r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        *[F.col(v).alias(f"__r_{v}") for v in right_vals],
        *rts_extra,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in passthru],
    )
    side_l = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        *[
            F.lit(None).cast(right.schema[v].dataType).alias(f"__r_{v}")
            for v in right_vals
        ],
        *rts_extra_l,
        *[F.col(c) for c in passthru],
    )
    unioned = side_r.unionByName(side_l)

    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    # right rows sort before left rows at equal ts => inclusive (<= / >=);
    # among equal-ts right rows the greatest tiebreak tuple sorts last and is
    # what last() carries
    w = (
        Window.partitionBy(*keys)
        .orderBy(
            ts_order,
            F.col("__is_right").desc(),
            *[F.col(f"__r_{c}").asc_nulls_first() for c in tiebreak],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(f"__r_{v}", ignorenulls=True).over(w).alias(v) for v in right_vals
    ]
    if tolerance is not None:
        carried.append(
            F.last("__r___rts", ignorenulls=True).over(w).alias("__matched_ts")
        )

    out = unioned.select(
        *keys,
        F.col("__ts"),
        F.col("__is_right"),
        *passthru,
        *carried,
    ).filter(F.col("__is_right") == 0)
    if tolerance is not None:
        keep = F.col("__matched_ts").isNotNull() & (
            F.abs(F.col("__ts") - F.col("__matched_ts")) <= F.lit(tolerance)
        )
        out = out.select(
            *keys,
            F.col("__ts"),
            F.col("__is_right"),
            *passthru,
            *[
                F.when(keep, F.col(v)).otherwise(F.lit(None)).alias(v)
                for v in right_vals
            ],
        )
    return out.withColumnRenamed("__ts", left_ts).drop("__is_right")


# ---------------------------------------------------------------------------
# J3: the ALL-table greedy tiered assignment (merge_all.py:143-511)
# ---------------------------------------------------------------------------

# One discharge ``d`` of the greedy scan (merge_all.py:343-470) over
# ``acc = struct(free, out)``: pick a free admission by the tiers, drop it
# from ``free`` and append the discharge's row to ``out``.
#
# Tiers: unique OFC equality -> unique BirthWeight equality -> datetime
# fallback. The fallback ALWAYS assigns when any admission is free: the
# nearest non-negative (discharge_dt - admission_dt), i.e. the latest
# admission at or before the discharge (``near``: max of (ts, ~rid), so the
# lower rid wins among equal datetimes), else the earliest-admitted
# candidate (merge_all.py:345-365 fallback_by_datetime) — the head of
# ``free``, which is sorted by (ts is null, ts, rid). Every fallback match
# is ``ambiguous`` (merge_all.py:430-432), and a unique BW hit after an
# ambiguous OFC tier keeps the ambiguous flag (merge_all.py:406-418). The
# reference lets frame order break ties; the lower rid is the
# deterministic tiebreak here.
#
# Lambdas are interpreted with no common-subexpression elimination, so the
# tier arrays (``t``) and the pick (``p``) are each bound once through a
# one-element ``transform``. Built as SQL text: one parse instead of a few
# hundred py4j Column calls.
_GREEDY_SCAN = """
aggregate(
  __dis,
  named_struct('free', __free, 'out', CAST(array() AS
    array<struct<discharge_rid:bigint,admission_rid:bigint,match_status:string>>)),
  (acc, d) -> transform(
    array(transform(
      array(named_struct(
        'ofc', filter(acc.free, a -> a.ofc = d.ofc),
        'bw', filter(acc.free, a -> a.bw = d.bw),
        'near', array_max(transform(
          filter(acc.free, a -> a.ts <= d.ts),
          a -> named_struct('ts', a.ts, 'nrid', ~a.rid))))),
      t -> CASE
        WHEN size(acc.free) = 0 THEN
          named_struct('rid', CAST(NULL AS BIGINT), 'status', 'unmatched_discharge')
        WHEN size(t.ofc) = 1 THEN
          named_struct('rid', t.ofc[0].rid, 'status', 'matched')
        WHEN size(t.bw) = 1 THEN
          named_struct('rid', t.bw[0].rid,
                       'status', IF(size(t.ofc) > 1, 'ambiguous', 'matched'))
        ELSE named_struct('rid', coalesce(~t.near.nrid, acc.free[0].rid),
                          'status', 'ambiguous')
      END)[0]),
    p -> named_struct(
      'free', filter(acc.free, a -> NOT a.rid <=> p.rid),
      'out', concat(acc.out, array(named_struct(
        'discharge_rid', d.rid, 'admission_rid', p.rid, 'match_status', p.status)))))[0]
).out
"""


def tiered_asof_assignment(
    admissions: DataFrame,
    discharges: DataFrame,
    uid_col: str = "uid",
    facility_col: str = "facility",
    adm_ts: str = "admission_ts",
    dis_ts: str = "discharge_ts",
    adm_id: str = "admission_rid",
    dis_id: str = "discharge_rid",
    ofc_col: str = "ofc",
    bw_col: str = "bw",
) -> DataFrame:
    """Greedy tiered 1:1 assignment (J3). Returns
    (discharge_rid, admission_rid|NULL, match_status, uid, facility).

    Deterministic: discharges processed in (discharge-datetime, rid) order
    within each (uid, facility) group, null datetimes last (the reference
    sorts at merge_all.py:287 then iterates). The scan is sequential
    within a group but groups are tiny (a patient's episodes), so it runs
    as one Catalyst plan: a single ``groupBy(uid, facility)`` collects the
    group's admissions and sorted discharges, one ``aggregate``
    higher-order function walks the discharges (``_GREEDY_SCAN``), and
    ``explode`` emits one row per discharge. No Python worker is involved.

    OFC/BW NaN is mapped to null: the reference never matches NaN, while
    Spark's ``NaN = NaN`` is true.
    """

    def side(df: DataFrame, rid: str, ts: str, is_adm: bool) -> DataFrame:
        return df.select(
            F.col(uid_col).alias("uid"),
            F.col(facility_col).alias("facility"),
            F.lit(is_adm).alias("__adm"),
            # (ts_null, ts, rid) lead the struct, so array_sort is that order
            F.struct(
                F.col(ts).isNull().alias("ts_null"),
                F.col(ts).alias("ts"),
                F.col(rid).cast("long").alias("rid"),
                *[
                    F.nanvl(F.col(c).cast("double"), F.lit(None)).alias(name)
                    for c, name in ((ofc_col, "ofc"), (bw_col, "bw"))
                ],
            ).alias("__e"),
        )

    # explode the scan expression itself, not a projected column: an
    # attribute input would let Catalyst infer a size() > 0 filter and
    # evaluate the scan twice
    return (
        side(admissions, adm_id, adm_ts, True)
        .unionByName(side(discharges, dis_id, dis_ts, False))
        .groupBy("uid", "facility")
        .agg(
            F.expr("array_sort(collect_list(IF(__adm, __e, NULL))) AS __free"),
            F.expr("array_sort(collect_list(IF(__adm, NULL, __e))) AS __dis"),
        )
        .selectExpr("uid", "facility", f"explode({_GREEDY_SCAN}) AS __r")
        .selectExpr(
            "__r.discharge_rid",
            "__r.admission_rid",
            "__r.match_status",
            "uid",
            "facility",
        )
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_us: int,
    upper_us: int,
) -> DataFrame:
    """Interval/range join without a cartesian stage: match (l, r) when
    ``r.ts − l.ts ∈ (lower_us, upper_us]`` (microseconds; use negative
    bounds for "right precedes left") and the equi-``keys`` agree.

    Naively a range predicate forces Spark into a nested-loop/cartesian
    plan. The scale shape is BUCKET BLOCKING: with bucket width
    w = upper−lower, each right row lands in one w-sized time bucket and
    each left row probes at most the two buckets its window can overlap —
    an ordinary equi-join on (keys, bucket) followed by the exact range
    filter. Shuffle volume is data + one small bucket id per row; candidate
    fan-out is bounded by rows per bucket, never |L|×|R|.

    Column contract: left and right must not share non-key column names
    (select/alias first); the result carries keys once plus both sides'
    remaining columns.
    """
    width = upper_us - lower_us
    if width <= 0:
        raise ValueError("range_join: upper_us must exceed lower_us")
    overlap = set(left.columns) & set(right.columns) - set(keys)
    if overlap:
        raise ValueError(
            f"range_join: overlapping non-key columns {sorted(overlap)}; "
            "alias them before joining"
        )
    def us(c):
        # NTZ columns cast through TIMESTAMP; any session-tz shift is the
        # same on both sides, so diffs and bucket pairing are unaffected
        return F.unix_micros(F.col(c).cast("timestamp"))

    def fdiv(x):
        # exact floor-division in long arithmetic at ANY magnitude: pmod
        # makes the numerator exactly divisible (and its remainder
        # non-negative), so integral `div` — never `/`, which routes
        # through doubles and rounds past 2^53 — truncates == floors
        # even for negative epochs.
        return F.call_function(
            "div", x - F.pmod(x, F.lit(width)), F.lit(width)
        ).cast("long")

    l_us = us(left_ts)
    r_us = us(right_ts)
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(fdiv(l_us + F.lit(lower_us)), fdiv(l_us + F.lit(upper_us)))
        ),
    )
    rb = right.withColumn("__bucket", fdiv(r_us))
    diff = us(right_ts) - us(left_ts)
    return (
        lb.join(rb, [*keys, "__bucket"])
        .filter((diff > lower_us) & (diff <= upper_us))
        .drop("__bucket")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_us: int,
    overlap_col: str = "overlap_us",
) -> DataFrame:
    """Interval×interval overlap join without a cartesian stage:
    match (l, r) when the equi-``keys`` agree and the end-EXCLUSIVE
    intervals [l.start, l.end) and [r.start, r.end) intersect; emit the
    pair once with its overlap length. The ad-exposure×session /
    machine-uptime×incident shape — ``range_join``'s big sibling where
    BOTH sides are intervals of varying length, so neither side can be
    bucketed by a single point.

    Scale shape: both sides explode into the ``bucket_us``-grain
    buckets their interval covers (fan-out per row =
    len/bucket_us + 1 — pick ``bucket_us`` near the typical interval
    length), candidate pairs meet by an ordinary equi-join on
    (keys, bucket), the exact overlap predicate filters, and each
    surviving pair is kept EXACTLY ONCE — at the bucket containing
    greatest(l.start, r.start), a bucket both intervals necessarily
    cover — so there is no post-join distinct shuffle. Candidate
    fan-out is bounded by rows per (key, bucket), never |L|×|R|.

    Column contract: ``left_start``/``left_end``/``right_start``/
    ``right_end`` are epoch-microsecond longs (cast timestamps with
    ``unix_micros`` first); the two sides must not share non-key column
    names. Zero- and negative-length intervals match nothing (the
    end-exclusive contract) and are filtered before the explode, which
    also keeps ``sequence`` from counting down.
    """
    if bucket_us <= 0:
        raise ValueError("interval_overlap_join: bucket_us must be positive")
    overlap = set(left.columns) & set(right.columns) - set(keys)
    if overlap:
        raise ValueError(
            "interval_overlap_join: overlapping non-key columns "
            f"{sorted(overlap)}; alias them before joining"
        )

    def fdiv(e: str) -> Column:
        # exact floor-division in long arithmetic at ANY magnitude:
        # pmod makes the numerator exactly divisible, and integral
        # `div` (never `/`, which routes through doubles and rounds
        # past 2^53) truncates == floors on an exact multiple.
        return F.expr(
            f"(({e}) - pmod(({e}), {int(bucket_us)})) div {int(bucket_us)}"
        ).cast("long")

    def bt(name: str) -> str:
        # backtick-quote a user column name for the SQL fragment;
        # embedded backticks are doubled (the SQL escape) so any legal
        # column name round-trips instead of breaking the parse or
        # injecting into the expression. F.col parses backticks too, so
        # the quoted form feeds both.
        return "`" + name.replace("`", "``") + "`"

    ls, le = F.col(bt(left_start)), F.col(bt(left_end))
    rs, re = F.col(bt(right_start)), F.col(bt(right_end))
    lb = left.filter(le > ls).withColumn(
        "__bucket",
        F.explode(
            F.sequence(fdiv(bt(left_start)), fdiv(f"{bt(left_end)} - 1"))
        ),
    )
    rb = right.filter(re > rs).withColumn(
        "__bucket",
        F.explode(
            F.sequence(fdiv(bt(right_start)), fdiv(f"{bt(right_end)} - 1"))
        ),
    )
    pair_bucket = fdiv(f"greatest({bt(left_start)}, {bt(right_start)})")
    return (
        lb.join(rb, [*keys, "__bucket"])
        .filter((ls < re) & (rs < le) & (F.col("__bucket") == pair_bucket))
        .withColumn(overlap_col, F.least(le, re) - F.greatest(ls, rs))
        .drop("__bucket")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    *,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join by key salting: the (large, skewed) LEFT side
    gets a deterministic salt in [0, salts) hashed from its whole row, the
    (smaller) RIGHT side is replicated once per salt value, and the join
    key becomes (keys..., salt) — a hot key's rows now spread over
    ``salts`` shuffle partitions instead of landing on one straggler task.

    Semantics are exactly the plain equi-join (each left row meets each
    matching right row exactly once — through its own salt's replica).
    ``how`` supports 'inner' and 'left'. Cost: right side ×``salts``; use
    when BOTH sides are too big to broadcast and AQE's skew split isn't
    available or isn't enough (e.g. a skewed key feeding a subsequent
    aggregation on the same key). With a broadcastable right side, prefer
    ``F.broadcast`` — no replication, no shuffle at all.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    overlap = set(left.columns) & set(right.columns) - set(keys)
    if overlap:
        raise ValueError(
            f"salted_join: overlapping non-key columns {sorted(overlap)}; "
            "alias them before joining"
        )
    lb = left.withColumn("__salt", F.pmod(F.xxhash64(*left.columns), F.lit(salts)))
    rb = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)).cast("array<long>"))
    )
    return lb.join(rb, [*keys, "__salt"], how).drop("__salt")


def fuzzy_string_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Blocked edit-distance join: pairs whose Levenshtein distance (on
    lowercased values) is ≤ ``max_dist`` — dictionary canonicalization,
    typo-tolerant entity matching.

    Blocking must never lose a true match, so it uses only a TRUE
    invariant of edit distance: ``|len(a) − len(b)| ≤ d``. Strings land in
    length buckets of width ``d+1``; the left side probes its bucket ±1
    (an equi-join on the bucket id), and the exact Levenshtein filter runs
    only within blocks. A first-character block would be cheaper but
    drops matches whose edit touches position 0 — use ``extra_keys`` for
    caller-supplied exact blocking (country, category) when both sides
    are large; length-only blocking bounds candidates by names-per-length,
    which is the dictionary-join regime.
    """
    if set(left.columns) & set(right.columns) - set(extra_keys):
        raise ValueError(
            "fuzzy_string_join: overlapping non-key columns; alias them first"
        )
    w = max_dist + 1

    def lbucket(col: str):
        # lengths are non-negative, so integral `div` truncation == floor
        # (the repo-wide no-`/`-into-long rule; doubles round past 2^53)
        return F.call_function(
            "div", F.length(F.col(col)).cast("long"), F.lit(w)
        )

    lb = left.withColumn(
        "__bucket",
        F.explode(F.sequence(lbucket(left_col) - 1, lbucket(left_col) + 1)),
    )
    rb = right.withColumn("__bucket", lbucket(right_col))
    dist = F.levenshtein(F.lower(F.col(left_col)), F.lower(F.col(right_col)))
    return (
        lb.join(rb, [*extra_keys, "__bucket"])
        .filter(dist <= max_dist)
        .withColumn("edit_dist", dist)
        .drop("__bucket")
    )


def grid_distance_join(
    left: DataFrame,
    right: DataFrame,
    x_col: str,
    y_col: str,
    radius: float,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """Spatial radius join: all (left, right) pairs within euclidean
    ``radius`` — the 2-D sibling of range_join's 1-D bucket blocking.

    Each left point lands in exactly ONE grid cell of side ``radius``;
    each right point replicates to its 3x3 cell neighborhood (a bounded
    9x fan-out). Any pair within ``radius`` shares at least one of those
    cells, so the equi-join on the composite cell key finds every
    candidate exactly once (one cell per left point -> no dedup pass),
    and the exact squared-distance filter runs post-join. Candidate
    volume is neighborhood density x |right|, never |left| x |right|;
    the join key is a pair of longs, so the shuffle carries no geometry
    beyond the two coordinates.

    Output: (left_id, right_id, dist_sq). Distances are compared SQUARED
    — no sqrt, so integer-valued coordinates stay exact across engines.
    """
    r = float(radius)
    if not r > 0:
        raise ValueError(f"grid_distance_join: radius must be > 0, got {radius}")
    lx, ly = F.col(x_col), F.col(y_col)
    l_pts = left.select(
        F.col(left_id).alias("__lid"),
        lx.alias("__lx"),
        ly.alias("__ly"),
        F.floor(lx / r).alias("__cx"),
        F.floor(ly / r).alias("__cy"),
    )
    dxy = F.explode(
        F.array(*[F.lit(i) for i in (-1, 0, 1)])
    )
    r_pts = (
        right.select(
            F.col(right_id).alias("__rid"),
            F.col(x_col).alias("__rx"),
            F.col(y_col).alias("__ry"),
            F.floor(F.col(x_col) / r).alias("__rcx"),
            F.floor(F.col(y_col) / r).alias("__rcy"),
        )
        .withColumn("__dx", dxy)
        .withColumn("__dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            "__rid",
            "__rx",
            "__ry",
            (F.col("__rcx") + F.col("__dx")).alias("__cx"),
            (F.col("__rcy") + F.col("__dy")).alias("__cy"),
        )
    )
    dist_sq = (F.col("__lx") - F.col("__rx")) * (F.col("__lx") - F.col("__rx")) + (
        F.col("__ly") - F.col("__ry")
    ) * (F.col("__ly") - F.col("__ry"))
    return (
        l_pts.join(r_pts, ["__cx", "__cy"])
        .filter(dist_sq <= F.lit(r * r))
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            dist_sq.alias("dist_sq"),
        )
    )


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    m_bits: int = 1 << 16,
    hashes: int = 3,
    exact: bool = True,
) -> DataFrame:
    """Semi join with an explicit bloom-filter prefilter: build a compact
    bitset over the dim side's keys, push the membership test into the
    fact scan, then (optionally) close with the exact semi join.

    This is the runtime-filter pattern Spark itself injects for
    shuffle-heavy joins (InjectRuntimeFilters), made explicit so a
    pipeline can build the filter ONCE and reuse it across many scans —
    the reference's B-tree probe has no Spark analogue, but a bloom
    prefilter recovers the "skip rows that cannot match" effect at scan
    time. No false negatives, so ``exact=True`` output EQUALS the plain
    semi join; ``exact=False`` skips the closing join for pipelines that
    tolerate the bloom's false-positive rate (~0.5% at the defaults for
    ~6k keys).

    Build phase: k=``hashes`` positions per key via seeded xxhash64,
    OR-folded into ``m_bits/64`` longs with ONE tiny aggregate (a
    word-indexed bit_or — bounded by m_bits, not by dim rows); the
    resulting words come to the driver (bounded: 8 KiB at the default
    m=65536) and re-enter the plan as an array literal, exactly how
    kmeans centroids travel (similarity.py). Probe phase: pure JVM
    bit-test expressions inside the scan stage — no shuffle touches fact
    rows that fail the filter.
    """
    n_words = m_bits // 64
    def positions(col: Column) -> list[Column]:
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)).cast("long")
            for i in range(hashes)
        ]

    # pyspark's F.shiftleft only takes a Python-int shift, so the bit
    # arithmetic runs as SQL expressions over named position columns
    words = (
        dim.select(F.explode(F.array(*positions(F.col(dim_key)))).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))"
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )
    wmap = {int(r["w"]): int(r["bits"]) for r in words.collect()}
    arr = [wmap.get(i, 0) for i in range(n_words)]

    probe = fact.withColumn("__bloom", F.lit(arr))
    pos_names = []
    for i, p in enumerate(positions(F.col(fact_key))):
        name = f"__bp{i}"
        pos_names.append(name)
        probe = probe.withColumn(name, p)
    conds = [
        f"(element_at(__bloom, CAST({n} / 64 AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod({n}, 64) AS INT))) != 0"
        for n in pos_names
    ]
    pre = probe.filter(" AND ".join(conds)).drop("__bloom", *pos_names)
    if not exact:
        return pre
    return pre.join(
        F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct()),
        [fact_key],
        "left_semi",
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, str]],
    *,
    salts: int = 16,
) -> DataFrame:
    """Skew-safe aggregation by explicit two-phase salting: phase 1
    aggregates on (key, salt) — the hot key's rows spread over ``salts``
    reducers — phase 2 re-aggregates the bounded partials on the key
    alone. ``aggs`` maps output names to (phase-1 aggregate column,
    merge) pairs where merge is 'sum', 'min', or 'max' — only
    DECOMPOSABLE aggregates qualify (counts merge with 'sum').

    Spark's map-side partial aggregation usually makes this redundant —
    partials already combine before the shuffle — but it stops helping
    when the agg buffer is large (collect_list-ish) or when AQE's skew
    handling is off; the explicit salt is the portable fallback, and the
    registry query pins that its two-exchange plan stays intact.

    The salt mixes xxhash64 of the whole row WITH the source partition
    id: row-content alone is deterministic under retries but collapses
    when the hot key's rows are exact duplicates (the most common skew
    shape — identical rows all hash to one salt and still land on a
    single reducer); the partition id spreads those duplicates across
    reducers while staying deterministic for a fixed input partitioning
    (task retries re-run the same partition with the same id). The final
    per-key result is salt-independent either way — phase 2 merges all
    partials — so the salt only shapes the shuffle, never the answer.
    """
    keys = list(keys)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns], F.spark_partition_id()),
        F.lit(salts),
    )
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*[c.alias(f"__p_{name}") for name, (c, _) in aggs.items()])
    )
    merge_fns = {"sum": F.sum, "min": F.min, "max": F.max}
    mergers = []
    for name, (_, merge) in aggs.items():
        if merge not in merge_fns:
            raise ValueError(f"merge must be one of {sorted(merge_fns)}: {merge}")
        mergers.append(merge_fns[merge](F.col(f"__p_{name}")).alias(name))
    return phase1.groupBy(*keys).agg(*mergers)


def nullsafe_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join where NULL matches NULL (`<=>` / IS NOT DISTINCT FROM)
    on every key — the semantics a changelog diff or dimension-merge
    needs when NULL is a legitimate key value (plain `=` silently drops
    those rows, the classic lost-update in reconcile pipelines; compare
    j14_table_diff's coalesce workaround). Spark plans `<=>` as a normal
    hash join (null keys hash like any value), so the scale shape is
    identical to the plain equi-join."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    out = left.join(right, cond, how)
    # drop the duplicate right-side key columns, as list-form joins do
    for k in keys:
        out = out.drop(right[k])
    return out


def knn_within_radius(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: float,
    k: int = 1,
) -> DataFrame:
    """Grid-bounded k-nearest-neighbor self-join: for every point, its k
    nearest OTHER points within euclidean ``radius`` (points with no
    neighbor inside the radius emit nothing — the bound is the contract,
    stated, not silently violated). Built on grid_distance_join, so
    candidates are 3x3-cell-local and the pair volume is neighborhood
    density x n, never n²; ranking is one per-point window over those
    bounded candidates with a total (dist_sq, id) order. Squared
    distances keep integer-valued coordinates exact cross-engine.

    This is the production kNN shape when a distance bound exists
    (dedup radius, geo proximity): unbounded exact kNN needs the
    brute-force or ANN paths in operators/similarity.py instead.
    """
    pairs = grid_distance_join(
        points.withColumnRenamed(id_col, "a_id"),
        points.withColumnRenamed(id_col, "nn_id"),
        x_col,
        y_col,
        radius,
        "a_id",
        "nn_id",
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("dist_sq").asc(), F.col("nn_id").asc()
    )
    return (
        pairs.filter(F.col("a_id") != F.col("nn_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("a_id", F.col("rank").cast("int").alias("rank"), "nn_id", "dist_sq")
    )


def allen_relation(
    a_start: Column, a_end: Column, b_start: Column, b_end: Column
) -> Column:
    """Allen's interval-algebra relation (Allen, CACM 1983) of interval A
    relative to B — the full 13-relation classification every temporal
    reasoner (overlap billing, stay-conflict detection, timeline merge)
    reduces to. Pure comparison ladder on the four endpoints: exhaustive
    and mutually exclusive for well-formed intervals (start < end), no
    joins, codegen-friendly. Use integer endpoints (epoch days/seconds)
    for cross-engine exactness."""
    return (
        F.when(a_end < b_start, "precedes")
        .when(b_end < a_start, "preceded_by")
        .when(a_end == b_start, "meets")
        .when(b_end == a_start, "met_by")
        .when((a_start == b_start) & (a_end == b_end), "equals")
        .when((a_start == b_start) & (a_end < b_end), "starts")
        .when(a_start == b_start, "started_by")
        .when((a_end == b_end) & (a_start > b_start), "finishes")
        .when(a_end == b_end, "finished_by")
        .when((a_start > b_start) & (a_end < b_end), "during")
        .when((a_start < b_start) & (a_end > b_end), "contains")
        .when(a_start < b_start, "overlaps")
        .otherwise("overlapped_by")
    )
