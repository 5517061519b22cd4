"""String/numeric repair scalar family (SURVEY.md §2.8 "Strings"/"Numeric").

All pure column expressions (regexp_extract / when-chains) — the reference
implements these as row-at-a-time Python; here they stay JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INT_TOKEN = r"(?:^|\s)(\d+)(?:\s|$)"


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _first_int_token(c: Column) -> Column:
    """First standalone integer token after '-' removal — mirrors
    ``[int(s) for s in age.replace('-','').split() if s.isdigit()][0]``."""
    x = F.regexp_extract(F.regexp_replace(c, "-", ""), _INT_TOKEN, 1)
    # try_cast: digit runs longer than int range must coerce to NULL, not
    # raise, even under ANSI
    return F.when(x == "", F.lit(None)).otherwise(x).try_cast("int")


def duration_to_hours(col: Column | str) -> Column:
    """Text-duration → hours: '3 days, 4 hours' → 76, 'an hour' → 1,
    '45 minutes' → 1, '2 days' → 48, null/'nan' → 0.

    Reference: parse_age_hours
    (tidy_admissions_discharges_and_create_mcl_tables.py:116-142; duplicate
    derive_data/create_union_views.py:13-56). Unparseable → 0, faithful to
    the reference's default.
    """
    raw = _col(col)
    s = F.lower(F.trim(raw.cast("string")))
    p1 = F.trim(F.split(s, ",").getItem(0))
    p2 = F.trim(F.split(s, ",").getItem(1))
    n_parts = F.size(F.split(s, ","))

    one_part = (
        F.when(
            p1.contains("hour"),
            F.coalesce(
                _first_int_token(p1),
                F.when(p1.contains("an"), F.lit(1)).otherwise(F.lit(0)),
            ),
        )
        .when(p1.contains("day"), F.coalesce(_first_int_token(p1) * 24, F.lit(0)))
        .when(p1.contains("second") | p1.contains("minute"), F.lit(1))
        .otherwise(F.lit(0))
    )
    two_part = F.when(
        p1.contains("day") & p2.contains("hour"),
        F.coalesce(_first_int_token(p1) * 24 + _first_int_token(p2), F.lit(0)),
    ).otherwise(F.lit(0))

    return (
        F.when(raw.isNull() | s.isin("nan", ""), F.lit(0))
        .when(n_parts == 1, one_part)
        .when(n_parts == 2, two_part)
        .otherwise(F.lit(0))
        .cast("double")
    )


def extract_first_number(col: Column | str) -> Column:
    """First number in a junk string: '2100g' → 2100.0, 'unknown' → NULL
    (utils/data_label_fixes.py:7-21 ``re.search(r'\\d+(\\.\\d+)?')``)."""
    x = F.regexp_extract(_col(col).cast("string"), r"(\d+(\.\d+)?)", 1)
    return F.when(x == "", F.lit(None)).otherwise(x).cast("double")


def extract_years(col: Column | str) -> Column:
    """'23 years' / '23.5 years old' / '23' → 23 (int); else NULL
    (utils/assorted_fixes.py:4-21: anchored number[+years] first, then
    embedded 'N years' search)."""
    s = F.trim(_col(col).cast("string"))
    anchored = F.regexp_extract(s, r"(?i)^(\d+(\.\d+)?)\s*(years?)?$", 1)
    embedded = F.regexp_extract(s, r"(?i)(\d+(\.\d+)?)\s*years?", 1)
    pick = F.when(anchored != "", anchored).when(embedded != "", embedded)
    return F.floor(pick.cast("double")).cast("int")


def maternal_age_years(col: Column | str) -> Column:
    """Maternal-age repair (queries/data_fix.py:243-301 ``update_mat_age``):
    strip non-numeric chars, drop thousands commas, >100000 ⇒ value is hours
    → ÷8766, FLOOR, unparseable → 200 sentinel. The caller applies the ≤85
    acceptance filter, as the reference does in its UPDATE's WHERE."""
    cleaned = F.regexp_replace(_col(col).cast("string"), r"[^0-9.,]", "")
    num = F.replace(
        F.when(cleaned == "", F.lit(None)).otherwise(cleaned),
        F.lit(","),
        F.lit(""),
    ).try_cast("double")  # "1.2.3"-style residue → NULL → 200 sentinel, ANSI-safe
    years = F.when(num > 100000, num / 8766).otherwise(num)
    return F.coalesce(F.floor(years), F.lit(200)).cast("bigint")


# American Soundex letter→code map (A..Z): vowels + H/W/Y → 0,
# BFPV→1, CGJKQSXZ→2, DT→3, L→4, MN→5, R→6.
_SOUNDEX_MAP = "01230120022455012623010202"


def phonetic_code(col: Column | str) -> Column:
    """Simplified American Soundex: first letter + the first three
    collapsed consonant codes, zero-padded — the classic phonetic
    blocking key for record linkage (names that SOUND alike share a
    code, so vowel typos and doubled letters land in the same block).
    Simplification vs full Soundex: the H/W same-code-bridge rule is
    dropped (letters separated by H or W collapse here; full Soundex
    keeps the vowel distinction only for A/E/I/O/U/Y), which is the
    common "simplified soundex" variant.

    Portability is the design constraint: upper + strip-non-letters +
    ``translate`` through the 26-letter map + per-digit run collapse
    via six backreference-free regexp_replace calls (RE2-safe, so the
    DuckDB oracle states the identical algorithm) + rpad. Empty/null
    input → NULL."""
    u = F.upper(F.regexp_replace(_col(col).cast("string"), "[^A-Za-z]", ""))
    mapped = F.translate(u, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", _SOUNDEX_MAP)
    collapsed = mapped
    for d in "123456":
        collapsed = F.regexp_replace(collapsed, f"{d}{{2,}}", d)
    body = F.regexp_replace(F.substring(collapsed, 2, 1_000_000), "0", "")
    code = F.concat(
        F.substring(u, 1, 1), F.rpad(F.substring(body, 1, 3), 3, "0")
    )
    return F.when(F.length(u) > 0, code)


def parse_messy_number(col: Column | str) -> Column:
    """Locale-messy numeric string → exact micro-units BIGINT: accepts
    en-US grouping ('1,234.56'), European ('1.234,56'), French space
    grouping ('1 234,56'), currency sigils ($ €), and accountant
    negatives ('(123.45)') — the amount-repair cousin of the 20-format
    timestamp parser (same reference lineage: dirty free-text fields).

    Deterministic separator ladder (stated identically in SQL oracles):
    strip sigils/spaces/parens; when both ',' and '.' appear, the LATER
    one is the decimal separator; when only one appears, it is decimal
    iff it occurs once with ≤ 2 trailing digits, else grouping. Parse
    via try_cast (unparseable → NULL, never a throw under ANSI), round
    half-away to micro. Pure codegen expressions — reverse/strpos/
    replace, no regex backtracking, no UDF.
    """
    t = F.trim(_col(col).cast("string"))
    neg = (
        (t.startswith("(") & t.endswith(")"))
        | t.contains("-")
    )
    u = F.regexp_replace(t, r"[()$€\s-]", "")
    n_c = F.length(u) - F.length(F.replace(u, F.lit(",")))
    n_p = F.length(u) - F.length(F.replace(u, F.lit(".")))
    rc = F.instr(F.reverse(u), ",")
    rp = F.instr(F.reverse(u), ".")
    comma_dec = F.when(
        (n_c > 0) & (n_p > 0), rc < rp
    ).otherwise((n_c == 1) & (n_p == 0) & (rc - 1 <= 2))
    point_dec = F.when(
        (n_c > 0) & (n_p > 0), rp < rc
    ).otherwise((n_p == 1) & (n_c == 0) & (rp - 1 <= 2))
    v = (
        F.when(
            comma_dec,
            F.replace(F.replace(u, F.lit(".")), F.lit(","), F.lit(".")),
        )
        .when(point_dec, F.replace(u, F.lit(",")))
        .otherwise(F.replace(F.replace(u, F.lit(",")), F.lit(".")))
    )
    micro = F.round(v.try_cast("double") * 1_000_000, 0).cast("bigint")
    return F.when(neg, -micro).otherwise(micro)
