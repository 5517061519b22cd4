"""Data-quality validation (SURVEY.md §2.11; A6).

The reference runs a great_expectations suite per pipeline execution
(data_validation/validate.py:141-888) and emails a PDF. Here: the same
checks computed as aggregation DataFrames → a metrics table. No email/PDF.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.nulls import nullify


def null_rates(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Per-column null rate (validate.py:660-674), single pass."""
    cols = list(columns or df.columns)
    # backticked resolution: Neotree wide tables carry dotted Key.value
    # column names which a bare F.col would split on
    aggs = [F.count("*").alias("__n")] + [
        F.sum(F.col(f"`{c}`").isNull().cast("long")).alias(f"__null_{i}")
        for i, c in enumerate(cols)
    ]
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"__null_{i}").alias("null_count"),
                        F.col("__n").alias("row_count"),
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("m")
    ).select("m.*")
    return stacked.withColumn(
        "null_rate",
        F.col("null_count") / F.greatest(F.col("row_count"), F.lit(1)),
    )


def column_profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    rsd: float = 0.05,
    percentiles: Sequence[float] = (0.5, 0.95),
    accuracy: int = 10_000,
) -> DataFrame:
    """One-pass sketch profile per column: row/null counts, HyperLogLog++
    distinct estimate (``approx_count_distinct``, relative std dev
    ``rsd``), and KLL-style approximate percentiles for numeric columns
    (``approx_percentile``) — the table-profiling primitive a 100 TB
    warehouse runs instead of exact DISTINCT/percentile scans. All
    sketches are mergeable partial aggregates: one map-reduce pass total,
    constant memory per column, no shuffle of data rows.

    Estimates are engine-specific (no DuckDB hash-parity); accuracy is
    pinned against exact answers in tests/test_validation.py instead.
    Output: (column_name, row_count, null_count, approx_distinct, p50,
    p95) with NULL percentiles for non-numeric columns.
    """
    cols = list(columns or df.columns)
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString()
        in ("int", "bigint", "smallint", "tinyint", "double", "float")
        or f.dataType.simpleString().startswith("decimal")
    }
    aggs: list[Column] = [F.count("*").alias("__n")]
    for i, c in enumerate(cols):
        col = F.col(f"`{c}`")
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"__null_{i}"))
        aggs.append(F.approx_count_distinct(col, rsd).alias(f"__dist_{i}"))
        if c in numeric:
            aggs.append(
                F.percentile_approx(
                    col.cast("double"), list(percentiles), accuracy
                ).alias(f"__pct_{i}")
            )
    row = df.agg(*aggs)
    structs = []
    for i, c in enumerate(cols):
        pcts = (
            [F.col(f"__pct_{i}")[j] for j in range(len(percentiles))]
            if c in numeric
            else [F.lit(None).cast("double")] * len(percentiles)
        )
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__n").alias("row_count"),
                F.col(f"__null_{i}").alias("null_count"),
                F.col(f"__dist_{i}").alias("approx_distinct"),
                *[
                    p.alias(f"p{int(q * 100)}")
                    for p, q in zip(pcts, percentiles)
                ],
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("m")).select("m.*")


def range_violations(
    df: DataFrame, column: str, min_value: float | None, max_value: float | None
) -> DataFrame:
    """Metadata min/max range check (validate.py:100-138,427-451)."""
    c = F.col(column).cast("double")
    cond = F.lit(False)
    if min_value is not None:
        cond = cond | (c < min_value)
    if max_value is not None:
        cond = cond | (c > max_value)
    return df.filter(cond)


_KEY_RX = re.compile(r"\$([A-Za-z0-9_]+)")

# the reference's bool_map tokens exactly (validate.py:263-266)
_BOOL_TRUE = ("y", "yes", "true", "1")
_BOOL_FALSE = ("n", "no", "false", "0")


def compile_condition(
    condition: str | None,
    columns: Sequence[str] | set[str],
    boolean_keys: Sequence[str] | set[str] = (),
    value_suffix: str = ".value",
) -> Column:
    """Compile the field-metadata condition mini-language to a Spark Column.

    The reference evaluates strings like ``$Key = 'X' and $Other > 5`` with
    pd.eval after rewriting ``$Key`` → the ``Key.value`` column, and/or →
    &/|, and ``=`` → ``==`` (data_validation/validate.py:276-311). Spark SQL
    natively accepts ``and``/``or``/``true``/``false`` (case-insensitive) and
    single-``=`` equality, so only the ``$Key`` references need rewriting:

    - ``$Key`` → backtick-quoted ``Key.value`` column;
    - keys whose dataType is boolean are coerced through the reference's
      y/yes/true/1 // n/no/false/0 token map (validate.py:263-274);
    - keys with no matching column become NULL (validate.py:296-298);
    - the whole expression is coalesced to false, matching the reference's
      ``.fillna(False)`` null semantics (validate.py:308).
    """
    if condition is None or not str(condition).strip():
        return F.lit(True)
    colset = set(columns)
    bools = set(boolean_keys)

    def _ref(m: re.Match[str]) -> str:
        key = m.group(1)
        col = f"{key}{value_suffix}"
        if col not in colset:
            return "CAST(NULL AS STRING)"
        q = f"`{col}`"
        if key in bools:
            toks_t = ", ".join(f"'{t}'" for t in _BOOL_TRUE)
            toks_f = ", ".join(f"'{t}'" for t in _BOOL_FALSE)
            return (
                f"(CASE WHEN lower(trim(CAST({q} AS STRING))) IN ({toks_t}) THEN true "
                f"WHEN lower(trim(CAST({q} AS STRING))) IN ({toks_f}) THEN false END)"
            )
        return q
    sql = _KEY_RX.sub(_ref, str(condition).strip())
    return F.coalesce(F.expr(sql), F.lit(False))


def conditional_required_nulls(
    df: DataFrame,
    fields: Sequence[Mapping],
    value_suffix: str = ".value",
) -> DataFrame:
    """Conditional required-field null metrics (validate.py:385-425).

    For every non-optional field: rows satisfying the field's ``condition``
    are eligible; among those, values that are NULL after null-token
    normalization (nan/<NA>/None/null/NaT/'' — validate.py:394-399) count as
    missing. One row per field: (base_key, null_count, eligible_count,
    null_pct). Single full-scan aggregate — no per-field passes, so the cost
    at 100 TB is one job regardless of how many fields the script declares.
    """
    boolean_keys = {
        f["key"]
        for f in fields
        if str(f.get("dataType") or "").lower() in ("boolean", "yesno")
    }
    cols = set(df.columns)
    required = [f for f in fields if not f.get("optional", False)]
    aggs: list[Column] = []
    for i, fld in enumerate(required):
        key = fld["key"]
        mask = compile_condition(
            fld.get("condition"), cols, boolean_keys, value_suffix
        )
        vcol = f"{key}{value_suffix}"
        val = (
            nullify(F.col(f"`{vcol}`").cast("string"))
            if vcol in cols
            else F.lit(None)
        )
        aggs.append(F.sum(mask.cast("long")).alias(f"__elig_{i}"))
        aggs.append(F.sum((mask & val.isNull()).cast("long")).alias(f"__null_{i}"))
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(fld["key"]).alias("base_key"),
                        F.col(f"__null_{i}").alias("null_count"),
                        F.col(f"__elig_{i}").alias("eligible_count"),
                    )
                    for i, fld in enumerate(required)
                ]
            )
        ).alias("m")
    ).select("m.*")
    return stacked.withColumn(
        "null_pct",
        F.lit(100.0)
        * F.col("null_count")
        / F.greatest(F.col("eligible_count"), F.lit(1)),
    )


_SELECT_TYPES = ("single_select_option", "dropdown", "multi_select_option")


def _label_checks(
    df: DataFrame,
    fields: Sequence[Mapping],
    value_suffix: str,
    label_suffix: str,
) -> list[tuple[Mapping, Column, Column, Column, Column]]:
    """Per select-typed field with options and both columns present:
    (field, trimmed value, trimmed actual label, expected label, mismatch)."""
    cols = set(df.columns)
    out = []
    for fld in fields:
        opts = fld.get("options") or []
        if not opts or fld.get("fieldType") not in _SELECT_TYPES:
            continue
        vcol = f"{fld['key']}{value_suffix}"
        lcol = f"{fld['key']}{label_suffix}"
        if vcol not in cols or lcol not in cols:
            continue
        mapping = F.create_map(
            *[
                lit
                for o in opts
                if o.get("value") is not None
                for lit in (
                    F.lit(str(o["value"]).strip()),
                    F.lit(str(o.get("valueLabel", "")).strip()),
                )
            ]
        )
        v = F.trim(F.col(f"`{vcol}`").cast("string"))
        expected = mapping[v]
        actual = F.trim(F.coalesce(F.col(f"`{lcol}`").cast("string"), F.lit("")))
        # reference skips empty/null values and values with no option entry;
        # comparison is case-insensitive (validate.py:586-597)
        mismatch = (
            v.isNotNull()
            & (v != "")
            & expected.isNotNull()
            & (F.lower(actual) != F.lower(expected))
        )
        out.append((fld, v, actual, expected, mismatch))
    return out


def value_label_consistency(
    df: DataFrame,
    fields: Sequence[Mapping],
    value_suffix: str = ".value",
    label_suffix: str = ".label",
) -> DataFrame:
    """Aggregate value↔label consistency metrics (validate.py:566-609), one
    row per select-typed field: (base_key, mismatch_count, checked_count).
    ``checked_count`` counts rows with a non-empty value that has an options
    entry — the rows the reference's loop actually compares. Single
    full-scan aggregate like the suite's other validators."""
    checks = _label_checks(df, fields, value_suffix, label_suffix)
    if not checks:
        return df.sparkSession.createDataFrame(
            [], "base_key string, mismatch_count long, checked_count long"
        )
    aggs: list[Column] = []
    for i, (fld, v, _actual, expected, mismatch) in enumerate(checks):
        checked = v.isNotNull() & (v != "") & expected.isNotNull()
        aggs.append(F.sum(mismatch.cast("long")).alias(f"__mis_{i}"))
        aggs.append(F.sum(checked.cast("long")).alias(f"__chk_{i}"))
    row = df.agg(*aggs)
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(fld["key"]).alias("base_key"),
                        F.col(f"__mis_{i}").alias("mismatch_count"),
                        F.col(f"__chk_{i}").alias("checked_count"),
                    )
                    for i, (fld, *_rest) in enumerate(checks)
                ]
            )
        ).alias("m")
    ).select("m.*")


# the reference's static sensitive-name list (validate.py:824-826)
SENSITIVE_KEYWORDS = (
    "surname", "firstname", "dobtob", "column_name", "mothcell",
    "dob.value", "dob.label", "kinaddress", "kincell", "kinname",
)


def confidential_column_report(
    df: DataFrame,
    fields: Sequence[Mapping] = (),
    drop_keywords: Sequence[str] = SENSITIVE_KEYWORDS,
    value_suffix: str = ".value",
    label_suffix: str = ".label",
) -> DataFrame:
    """Confidential-data *detection* report (validate.py:819-888): the
    compliance counterpart to ``redact`` (P6 removes; this one tells you
    what is present). One metrics row per hit:

    - ``kind='known_sensitive'``: a column whose lowercased name is in the
      static keyword list (validate.py:824-831);
    - ``kind='schema_confidential'``: a metadata field flagged
      ``confidential`` whose ``{key}.value`` / ``{key}.label`` column exists
      in the frame (validate.py:833-855).

    Output: (key, kind, matched_columns, non_null_count) where
    ``matched_columns`` is the comma-joined list of hit columns and
    ``non_null_count`` counts rows non-null in the VALUE column (falling
    back to the label column only when no value column matched) — the
    reference's sampling considers only ``{key}.value`` (validate.py:
    876-880), so a label-only hit must not inflate "rows with data"
    (the reference samples UIDs of such rows; a count is the cluster-safe
    aggregate form). Column matching is driver-side name logic; the data
    itself is touched by exactly one full-scan aggregate over the matched
    columns, so the report costs one map-reduce pass regardless of hits.
    """
    kw = {k.lower() for k in drop_keywords}
    hits: list[tuple[str, str, list[str]]] = []  # (key, kind, columns)
    for c in df.columns:
        if c.lower() in kw:
            hits.append((c, "known_sensitive", [c]))
    for fld in fields:
        if not fld.get("confidential", False):
            continue
        key = fld.get("key")
        cols = [
            c
            for c in (f"{key}{value_suffix}", f"{key}{label_suffix}")
            if c in df.columns
        ]
        if cols:
            hits.append((key, "schema_confidential", cols))

    schema = (
        "key string, kind string, matched_columns string, non_null_count long"
    )
    if not hits:
        return df.sparkSession.createDataFrame([], schema)

    # cols[0] is the value column whenever one matched (label is appended
    # second); counting it alone mirrors the reference's value-only sampling
    aggs = [
        F.sum(F.col(f"`{cols[0]}`").isNotNull().cast("long")).alias(f"__nn_{i}")
        for i, (_key, _kind, cols) in enumerate(hits)
    ]
    row = df.agg(*aggs)
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(key).alias("key"),
                        F.lit(kind).alias("kind"),
                        F.lit(",".join(cols)).alias("matched_columns"),
                        F.col(f"__nn_{i}").alias("non_null_count"),
                    )
                    for i, (key, kind, cols) in enumerate(hits)
                ]
            )
        ).alias("m")
    ).select("m.*")


def type_conformance(df: DataFrame, column: str, expected: str) -> DataFrame:
    """Regex type-conformance rates (validate.py:469-564): fraction of
    non-null values NOT parseable as the expected logical type."""
    c = F.col(column).cast("string")
    rx = {
        "numeric": r"^-?\d+(\.\d+)?$",
        "boolean": r"(?i)^(y|yes|true|t|1|1\.0|n|no|false|f|0|0\.0)$",
        "datetime": r"^\d{4}[-/.]\d{1,2}[-/.]\d{1,2}([T ].*)?$",
    }[expected]
    return df.agg(
        F.lit(column).alias("column_name"),
        F.lit(expected).alias("expected_type"),
        F.sum(F.when(c.isNotNull() & ~c.rlike(rx), 1).otherwise(0)).alias(
            "nonconforming"
        ),
        F.sum(c.isNotNull().cast("long")).alias("non_null"),
    )


def histogram_drift(
    base: DataFrame,
    cur: DataFrame,
    value_col: str,
    bucket_width: float,
    n_buckets: int,
) -> DataFrame:
    """Fixed-bin histogram drift between two snapshots of the same column —
    the scan-shaped data-drift check a training pipeline runs between
    ingestion waves (distribution shift in a quality score / price /
    length column), extending the §2.11 quality family
    (data_validation/validate.py's outlier report compares one snapshot to
    fixed bounds; this compares two snapshots to each other).

    Buckets are FIXED-width (``floor(v / bucket_width)`` clamped to
    ``[0, n_buckets)``), not quantiles, so the two sides bucket
    identically without a shared sort and the whole check is two map-side
    partial aggregations (one per snapshot) + a tiny n_buckets-row join —
    no data shuffle at any scale. Rates are double divisions of exact
    integer counts and the squared-gap term is summed nowhere, so every
    output value is bit-deterministic across engines (no transcendental
    PSI log — consumers that want PSI can apply it to the rates
    downstream).

    Output: one row per non-empty bucket:
    (bucket, base_n, cur_n, base_rate, cur_rate, sq_gap).
    """

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        b = F.least(
            F.lit(n_buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor(F.col(value_col) / F.lit(bucket_width)).cast("int"),
            ),
        )
        return df.groupBy(b.alias("bucket")).agg(F.count(F.lit(1)).alias(out))

    b = bucketed(base, "base_n")
    c = bucketed(cur, "cur_n")
    joined = b.join(c, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("base_n", F.lit(0)).alias("base_n"),
        F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
    )
    base_total = F.sum("base_n").over(Window.partitionBy())
    cur_total = F.sum("cur_n").over(Window.partitionBy())
    rate_b = F.col("base_n") / base_total
    rate_c = F.col("cur_n") / cur_total
    return joined.select(
        "bucket",
        "base_n",
        "cur_n",
        rate_b.alias("base_rate"),
        rate_c.alias("cur_rate"),
        ((rate_c - rate_b) * (rate_c - rate_b)).alias("sq_gap"),
    )


def fk_orphans(
    fact: DataFrame,
    fk_col: str | Column,
    dim: DataFrame,
    pk_col: str,
    name: str | None = None,
) -> DataFrame:
    """Referential-integrity probe: count fact rows whose foreign key has
    no match in the dimension (NULL fks are not orphans — SQL FK
    semantics). One row out: (fk, n_orphans).

    Scale shape: the dimension side is reduced to its distinct key column
    before the LEFT ANTI join, so small dims broadcast and the fact table
    is scanned once with no wide shuffle; union several probes for a full
    integrity report (each probe is an independent jobless plan branch).
    """
    fk = F.col(fk_col) if isinstance(fk_col, str) else fk_col
    label = name or f"{fk_col}->{pk_col}"
    keys = dim.select(F.col(pk_col).alias("__pk")).distinct()
    orphans = (
        fact.select(fk.alias("__fk"))
        .filter(F.col("__fk").isNotNull())
        .join(keys, F.col("__fk") == F.col("__pk"), "left_anti")
    )
    return orphans.agg(
        F.lit(label).alias("fk"), F.count(F.lit(1)).alias("n_orphans")
    )


def grid_density_outliers(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    x_width: float,
    y_width: float,
    min_pts: Column | int,
) -> DataFrame:
    """Grid-based density outliers (DBSCAN's noise set, approximated on a
    fixed grid): a point is an outlier when its 3x3 cell neighborhood
    holds fewer than ``min_pts`` points. The pairwise radius search
    becomes two cell-key aggregates plus a 9-way smear — the same
    integer-cell discipline as grid_distance_join (operators/joins.py),
    so no distance pair ever materializes.

    Cells are FLOOR(x/width) (explicit floor — Spark truncates casts
    toward zero but DuckDB's cast rounds, so oracles must mirror the
    FLOOR). ``min_pts`` may be a 1-row-aggregate Column for relative
    thresholds (e.g. 0.1% of N) so the cutoff scales with the corpus.

    Scale shape: one groupBy per cell (bounded by occupied cells), a 9x
    explode of the CELL-COUNT table (not the points), one cell-key join
    back. Output: input rows flagged as outliers, plus their
    neighborhood count ``nb_count``.
    """
    cx = F.floor(F.col(x_col) / x_width).cast("long")
    cy = F.floor(F.col(y_col) / y_width).cast("long")
    pts = df.withColumn("__cx", cx).withColumn("__cy", cy)
    cnt = pts.groupBy("__cx", "__cy").agg(F.count(F.lit(1)).alias("__c"))
    off = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    smear = (
        cnt.select("__cx", "__cy", "__c", F.explode(off).alias("__dx"))
        .select(
            (F.col("__cx") + F.col("__dx")).alias("__nx"),
            "__cy",
            "__c",
            F.explode(off).alias("__dy"),
        )
        .select("__nx", (F.col("__cy") + F.col("__dy")).alias("__ny"), "__c")
        .groupBy("__nx", "__ny")
        .agg(F.sum("__c").alias("nb_count"))
    )
    out = pts.join(
        smear,
        (F.col("__cx") == F.col("__nx")) & (F.col("__cy") == F.col("__ny")),
    )
    thresh = F.lit(min_pts) if isinstance(min_pts, int) else min_pts
    return out.filter(F.col("nb_count") < thresh).drop(
        "__cx", "__cy", "__nx", "__ny"
    )


def run_contract(
    spark_tables: dict[str, DataFrame],
    contract: dict,
) -> DataFrame:
    """Declarative data-contract runner (the dbt-tests / Great-
    Expectations shape of the reference's validation suite): one config
    dict in, one violations report out — so a pipeline can assert its
    published tables in CI without writing per-check code.

    ``contract`` maps table name → list of checks; each check is one of
      {"type": "not_null", "columns": [...]}
      {"type": "unique", "keys": [...]}
      {"type": "accepted_values", "column": c, "values": [...]}
      {"type": "relationship", "column": c, "to_table": t, "to_column": d}

    Output: (table, check, n_violations, passed) — one row per check.
    Every check compiles to a 1-row aggregate plan and the report is
    their UNION, so the WHOLE contract is one lazy DataFrame: the
    engine runs every check in a single action (shared scans via
    exchange reuse), and nothing touches the driver until the caller
    collects. At 100 TB each check is a scan-plus-aggregate, never a
    collect inside the runner.
    """
    def report(table: str, label: str, viol: DataFrame) -> DataFrame:
        # viol: 1-row frame with column __v = violation count
        return viol.select(
            F.lit(table).alias("table"),
            F.lit(label).alias("check"),
            F.col("__v").cast("bigint").alias("n_violations"),
            (F.col("__v") == 0).alias("passed"),
        )

    reports: list[DataFrame] = []
    for table, checks in contract.items():
        df = spark_tables[table]
        for chk in checks:
            kind = chk["type"]
            if kind == "not_null":
                cond = None
                for c in chk["columns"]:
                    n = F.col(c).isNull()
                    cond = n if cond is None else cond | n
                viol = df.agg(
                    F.coalesce(F.sum(cond.cast("long")), F.lit(0)).alias("__v")
                )
                label = "not_null(" + ",".join(chk["columns"]) + ")"
            elif kind == "unique":
                keys = list(chk["keys"])
                viol = (
                    df.groupBy(*keys)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .filter(F.col("__n") > 1)
                    .agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("__v"))
                )
                label = "unique(" + ",".join(keys) + ")"
            elif kind == "accepted_values":
                c = chk["column"]
                bad = F.col(c).isNotNull() & ~F.col(c).isin(*chk["values"])
                viol = df.agg(
                    F.coalesce(F.sum(bad.cast("long")), F.lit(0)).alias("__v")
                )
                label = f"accepted_values({c})"
            elif kind == "relationship":
                c, tt, tc = chk["column"], chk["to_table"], chk["to_column"]
                dim = spark_tables[tt].select(F.col(tc).alias(c)).distinct()
                viol = (
                    df.filter(F.col(c).isNotNull())
                    .join(dim, [c], "left_anti")
                    .agg(F.count(F.lit(1)).alias("__v"))
                )
                label = f"relationship({c}->{tt}.{tc})"
            else:
                raise ValueError(f"unknown check type: {kind}")
            reports.append(report(table, label, viol))
    if not reports:
        raise ValueError("contract defines no checks")
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def mutual_information(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    *,
    micro: int = 1_000_000,
) -> DataFrame:
    """Mutual information I(feature; label) per feature column, in
    micro-nats — the model-free feature-relevance ranking used to
    audit leakage (a feature with MI ≈ H(label) is the label in
    disguise) and to rank candidate stratification keys. Exact
    cross-engine protocol: joint and marginal counts are exact
    integers; each cell's contribution
    n_xy · ln(n_xy·N / (n_x·n_y)) · micro / N is rounded to an int64
    BEFORE the per-feature sum, so the only transcendental (ln) is
    absorbed by the micro-round and the sum is order-independent (the
    BM25 idf recipe). NULL feature/label values are a real category:
    they are folded to a reserved sentinel BEFORE the joint groupBy
    (equi-joins otherwise drop NULL keys while n_tot still counts the
    rows, so a NULL-half-the-time leaky feature would report MI 0 —
    the opposite of the leakage-audit purpose). Counts are cast to
    double individually before multiplying, so n_xy·n_tot never
    overflows int64 at any table size. Plan: features unpivot via
    stack (one scan), one groupBy for joint counts; marginals derive
    from the joint counts (no second scan), broadcast-joined back.

    Output per feature: feature, n_cells, mi_micro_nats.
    """
    # NUL-prefixed sentinel: cannot collide with any CAST(col AS STRING)
    # rendering, and never appears in the output (only the grouping uses
    # it), so any non-colliding oracle sentinel yields identical results.
    null_s = "\x00null\x00"
    pairs = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in feature_cols
    )
    stacked = df.select(
        F.expr(
            f"stack({len(feature_cols)}, {pairs}) AS (feature, x)"
        ),
        F.col(label_col).cast("string").alias("y"),
    ).select(
        "feature",
        F.coalesce(F.col("x"), F.lit(null_s)).alias("x"),
        F.coalesce(F.col("y"), F.lit(null_s)).alias("y"),
    )
    joint = stacked.groupBy("feature", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    )
    mx = joint.groupBy("feature", "x").agg(
        F.sum("n_xy").alias("n_x")
    )
    my = joint.groupBy("feature", "y").agg(
        F.sum("n_xy").alias("n_y")
    )
    nn = joint.groupBy("feature").agg(F.sum("n_xy").alias("n_tot"))
    cells = (
        joint.join(F.broadcast(mx), ["feature", "x"])
        .join(F.broadcast(my), ["feature", "y"])
        .join(F.broadcast(nn), "feature")
    )
    term = F.round(
        F.log(
            (F.col("n_xy").cast("double") * F.col("n_tot").cast("double"))
            / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
        )
        * (F.col("n_xy") * F.lit(micro)).cast("double")
        / F.col("n_tot").cast("double"),
        0,
    ).cast("bigint")
    return cells.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(term).alias("mi_micro_nats"),
    )


def row_fingerprint_checksum(
    df: DataFrame, cols: Sequence[str], *, hex_chars: int = 12
) -> DataFrame:
    """Order-independent table checksum: md5 over the '|'-joined
    canonical rendering of ``cols`` per row, the top ``hex_chars`` hex
    digits as an int64, SUMMED — the replication/migration integrity
    probe (two engines or two copies agree iff every row agrees,
    independent of row order and partitioning; the Percona
    pt-table-checksum idea as one aggregate). Callers pre-quantize
    float columns (e.g. to cents) — raw double→string rendering is NOT
    engine-portable. Each column renders NULL-safely and
    delimiter-safely as ``N`` for NULL else ``<length>:<value>``: the
    length prefix makes distinct rows always render distinctly
    (concat_ws alone silently skips NULL args, so ('a', NULL, 'b') and
    ('a', 'b', NULL) would collide, and an unescaped '|' inside a
    value would shift field boundaries). The 48-bit fingerprints are
    summed into DECIMAL(38,0), so the checksum never overflows at any
    table size (int64 would cap out near 32k rows of max-valued
    fingerprints).

    Output: one row (n_rows BIGINT, checksum DECIMAL(38,0))."""
    rendered = ", ".join(
        f"CASE WHEN {c} IS NULL THEN 'N' ELSE concat(CAST(length("
        f"CAST({c} AS STRING)) AS STRING), ':', CAST({c} AS STRING)) END"
        for c in cols
    )
    fp = F.expr(
        f"CAST(conv(substring(md5(concat_ws('|', {rendered}"
        f")), 1, {hex_chars}), 16, 10) AS DECIMAL(38,0))"
    )
    return df.select(fp.alias("__fp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("__fp").cast("decimal(38,0)").alias("checksum"),
    )
