"""Text-analysis scalar family for LLM-training-data pipelines.

Beyond the reference's surface (required extension, BASELINE.json
"north_star"): language-ID, quality scoring, token counting, document
fingerprinting. All are pure built-in-function column expressions so they
run JVM-side over 100 TB; each has an exact ANSI-SQL twin for the DuckDB
oracle (see plans/queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword sets; tie order en > fr > de > es is part of
# the deterministic contract.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "it", "a"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "es": ("el", "los", "de", "y", "que", "en", "un", "es"),
}

PUNCT_CLASS = r"[.,!?;:]"


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty/null/whitespace-only text → empty
    array. Regex trim, not F.trim: trim() strips only ' ' so a "\\n"-only
    text would split into two empty tokens (the DuckDB oracles may keep
    plain trim() because the synthetic corpus has no non-space
    whitespace)."""
    t = F.regexp_replace(F.coalesce(_col(col), F.lit("")), r"^\s+|\s+$", "")
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def _stopword_hits(toks: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(toks, lambda x: F.lower(x).isin(*words)))


def language_id(col: Column | str) -> Column:
    """Stopword-vote language ID: argmax of per-language stopword hits,
    deterministic tie order en>fr>de>es, zero hits → 'und'."""
    toks = tokens(col)
    en, fr, de, es = (_stopword_hits(toks, lang) for lang in ("en", "fr", "de", "es"))
    best = F.greatest(en, fr, de, es)
    return (
        F.when(best == 0, "und")
        .when(en == best, "en")
        .when(fr == best, "fr")
        .when(de == best, "de")
        .otherwise("es")
    )


def quality_score_components(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword quality features.

    Ratios are single double divisions of exact integer counts →
    bit-identical across engines.
    """
    t = F.coalesce(_col(col), F.lit(""))
    toks = tokens(col)
    n_chars = F.length(t).cast("bigint")
    n_tokens = F.size(toks).cast("bigint")
    n_punct = (
        n_chars - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))
    ).cast("bigint")
    n_stop = _stopword_hits(toks, "en").cast("bigint")
    denom_c = F.greatest(n_chars, F.lit(1)).cast("double")
    denom_t = F.greatest(n_tokens, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": (n_chars - (n_tokens - 1)) / denom_t,
        "punct_ratio": n_punct / denom_c,
        "stopword_ratio": n_stop / denom_t,
    }


def gopher_quality(col: Column | str) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al., "Scaling Language
    Models: ... Gopher" §A1.1 repetition-free subset): the structural
    heuristics a pretraining pipeline gates documents on. Exact-integer
    metrics (ppm ratios, x100 lengths) so the DuckDB twin agrees
    bit-for-bit; every rule is a plain built-in-function expression —
    stateless scan stage at 100 TB.

    Metrics + flags returned (Gopher's published thresholds):
    - ``n_words``; flag 50 <= n <= 100_000
    - ``mean_word_len_x100`` = 100*sum(len(word)) div n; flag 300..1000
      (3..10 chars)
    - ``symbol_ratio_ppm``: '#' and '...' occurrences per word; flag
      <= 100_000 (0.1)
    - ``bullet_ppm`` / ``ellipsis_ppm``: fraction of lines starting with
      a bullet / ending with '...'; flags <= 900_000 and <= 300_000
    - ``stop_hits``: count of {the, of, and, to, in} present (distinct);
      flag >= 2 (Gopher's "contains 2 of 8 stop words" rule on the tiny
      deterministic set)
    - ``keep``: AND of all flags.
    """
    t = F.coalesce(_col(col), F.lit(""))
    toks = tokens(col)
    n_words = F.size(toks).cast("bigint")
    nw1 = F.greatest(n_words, F.lit(1))
    sum_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    # all ratios are floor-divisions of non-negative exact integers:
    # integral `div` == DuckDB a // b (truncation == floor for >= 0)
    # and never visits doubles (the repo-wide no-`/`-into-long rule)
    def idiv(a, b):
        return F.call_function("div", a, b).cast("bigint")

    mean_x100 = idiv(F.lit(100) * sum_len, nw1)
    n_hash = (
        F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    ).cast("bigint")
    n_ellipsis = idiv(
        (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))).cast(
            "bigint"
        ),
        F.lit(3),
    )
    symbol_ppm = idiv(F.lit(1_000_000) * (n_hash + n_ellipsis), nw1)
    lines = F.split(t, r"\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("bigint")
    n_bullet = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    ).cast("bigint")
    n_ell_end = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"\.\.\.$"))
    ).cast("bigint")
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in ("the", "of", "and", "to", "in")]),
            lambda s: F.array_contains(F.transform(toks, F.lower), s),
        )
    ).cast("bigint")
    bullet_ppm = idiv(F.lit(1_000_000) * n_bullet, n_lines)
    ellipsis_ppm = idiv(F.lit(1_000_000) * n_ell_end, n_lines)
    flags = {
        "flag_words": (n_words >= 50) & (n_words <= 100_000),
        "flag_word_len": (mean_x100 >= 300) & (mean_x100 <= 1000),
        "flag_symbols": symbol_ppm <= 100_000,
        "flag_bullets": bullet_ppm <= 900_000,
        "flag_ellipsis": ellipsis_ppm <= 300_000,
        "flag_stopwords": stop_hits >= 2,
    }
    keep = None
    for f in flags.values():
        keep = f if keep is None else (keep & f)
    return {
        "n_words": n_words,
        "mean_word_len_x100": mean_x100,
        "symbol_ratio_ppm": symbol_ppm,
        "bullet_ppm": bullet_ppm,
        "ellipsis_ppm": ellipsis_ppm,
        "stop_hits": stop_hits,
        **flags,
        "keep": keep,
    }


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprint/dedup: lowercase, strip punctuation,
    collapse whitespace."""
    t = F.lower(F.coalesce(_col(col), F.lit("")))
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


def doc_fingerprint(col: Column | str) -> Column:
    """md5 of the normalized text — exact-dup key after normalization."""
    return F.md5(normalize_text(col))


# PII patterns shared by detection and scrubbing. Kept alternation-free so
# Java regex (Spark, leftmost-greedy) and RE2 (DuckDB oracle,
# leftmost-longest) produce identical matches; phone requires a leading '+'
# so it can never overlap the IP pattern.
PII_EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RX = r"\+[0-9][0-9 -]{7,}[0-9]"


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-document PII hit counts (emails / phones / IPv4s) — the
    detection half of the training-data PII gate; pure regexp expressions,
    JVM-side."""
    t = F.coalesce(_col(col), F.lit(""))
    return {
        "n_emails": F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RX), 0)).cast("bigint"),
        "n_phones": F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RX), 0)).cast("bigint"),
        "n_ips": F.size(F.regexp_extract_all(t, F.lit(PII_IP_RX), 0)).cast("bigint"),
    }


def scrub_pii(col: Column | str) -> Column:
    """Replace PII matches with typed placeholder tokens. Order matters and
    is part of the contract: emails first (their domains contain dots that
    the IP pattern could otherwise claim), then IPs, then phones."""
    t = F.coalesce(_col(col), F.lit(""))
    t = F.regexp_replace(t, PII_EMAIL_RX, "<EMAIL>")
    t = F.regexp_replace(t, PII_IP_RX, "<IP>")
    t = F.regexp_replace(t, PII_PHONE_RX, "<PHONE>")
    return t


def repetition_components(col: Column | str) -> dict[str, Column]:
    """Within-document repetition signals (the Gopher-style quality rules):
    duplicate-token fraction and duplicate-bigram fraction, as exact
    integer counts with one double division each (bit-identical across
    engines). Arrays are built with sequence/transform — no UDFs, no
    explode, one row stays one row."""
    toks = tokens(col)
    n = F.size(toks)
    dup_tok = F.when(
        n > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(toks)).cast("double") / n.cast("double"),
    ).otherwise(F.lit(0.0))
    # guarded sequence (never descending) + 0-based F.get (null, not an
    # ANSI error, when out of bounds) — the n<2 case is masked by the
    # `when` below but must still be evaluable
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.get(toks, i - 1), F.get(toks, i)),
    )
    dup_big = F.when(
        n >= 2,
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams)).cast("double")
        / (n - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return {
        "n_tokens": n.cast("bigint"),
        "dup_token_frac": dup_tok,
        "dup_bigram_frac": dup_big,
    }


def chunk_tokens(col: Column | str, size: int, overlap: int = 0) -> Column:
    """Array of overlapping token-window chunks — the context-window
    splitting step of training-data prep. Chunk i covers tokens
    [i*step+1, i*step+size] (1-based, step = size-overlap); the last
    chunk may be short; empty text yields an empty array (explode drops
    the row). Pure sequence/transform/slice expressions, one row in →
    one row out until the caller explodes.

    Each element: struct(chunk_index int, start_token int, chunk_text
    string)."""
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap}/{size}")
    step = size - overlap
    toks = tokens(col)
    n = F.size(toks)
    n_chunks = (
        F.ceil(F.greatest(n - size, F.lit(0)).cast("double") / step).cast("int")
        + 1
    )
    win = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.struct(
            i.cast("int").alias("chunk_index"),
            (i * step + 1).cast("int").alias("start_token"),
            F.array_join(F.slice(toks, i * step + 1, size), " ").alias(
                "chunk_text"
            ),
        ),
    )
    empty = F.array().cast(
        "array<struct<chunk_index:int,start_token:int,chunk_text:string>>"
    )
    return F.when(n <= 0, empty).otherwise(win)


def weighted_median_udaf():
    """GROUPED_AGG pandas UDF computing an exact weighted median —
    the Arrow-batched aggregation path (pandas_udf) the rest of the
    package's Python stages (mapInPandas / applyInPandas) don't cover.

    Definition (lower weighted median): the smallest value v such that
    the cumulative weight of all values <= v reaches half the total
    weight. Sort + cumsum in numpy per group — deterministic for fixed
    inputs, exact (no interpolation), and expressible in SQL as a
    window cumsum for the oracle twin.

    Use for weight-aware robust centers (e.g. token-weighted median
    quality score per source) where percentile_approx has no weighted
    form. The UDF is a partial-agg BARRIER (Spark ships whole groups to
    Python), so keep groups bounded — the same contract as
    applyInPandas.
    """
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG functionType: the type-hint route only infers
    # single-argument aggregations
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_median(v, w):
        x = v.to_numpy(dtype=np.float64)
        wt = w.to_numpy(dtype=np.float64)
        # SQL-aggregate NULL contract: drop pairs where either side is
        # NULL (NaN after Arrow), and an all-null group yields NULL —
        # NaN would otherwise poison cumsum/searchsorted and crash the task
        keep = ~(np.isnan(x) | np.isnan(wt))
        x, wt = x[keep], wt[keep]
        if x.size == 0:
            return None
        order = np.argsort(x, kind="stable")
        x, wt = x[order], wt[order]
        cum = np.cumsum(wt)
        half = cum[-1] / 2.0
        return float(x[np.searchsorted(cum, half)])

    return weighted_median


# Ordered license/rights markers: first match wins, most-specific first.
# Plain case-folded substring containment (no regex) so any engine's
# `contains(lower(text), marker)` agrees byte-for-byte.
LICENSE_MARKERS: list[tuple[str, str]] = [
    ("apache license", "apache-2.0"),
    ("mit license", "mit"),
    # LGPL before GPL: every LGPL text cites the GNU GPL in its own body,
    # so the generic GPL marker would shadow it.
    ("gnu lesser general public license", "lgpl"),
    ("gnu general public license", "gpl"),
    ("mozilla public license", "mpl-2.0"),
    # CC restriction variants before the generic family marker: NC/ND/CC0
    # are NOT equivalent to the permissive cc-by, and a permissive-only
    # training-data gate must not let them through under that label.
    ("creative commons zero", "cc0"),
    ("cc0", "cc0"),
    ("noncommercial", "cc-by-nc"),
    ("non-commercial", "cc-by-nc"),
    ("by-nc", "cc-by-nc"),
    ("no derivatives", "cc-by-nd"),
    ("noderivatives", "cc-by-nd"),
    ("by-nd", "cc-by-nd"),
    ("sharealike", "cc-by-sa"),
    ("by-sa", "cc-by-sa"),
    ("creative commons attribution", "cc-by"),
    # generic family hit with no recognizable variant: unknown variant,
    # NOT assumed permissive
    ("creative commons", "cc-unknown"),
    ("bsd license", "bsd"),
    ("all rights reserved", "proprietary"),
]


def license_detect(col: Column | str) -> Column:
    """Classify a document's license by an ordered case-insensitive
    marker ladder (``LICENSE_MARKERS``; 'unknown' when nothing hits) —
    the license-filtering gate of code/web corpus construction (only
    permissively-licensed documents survive into training data). Pure
    whole-stage-codegen CASE over ``contains(lower(text), marker)``;
    no regex, no UDF, scan-stage at any corpus size."""
    low = F.lower(_col(col))
    out: Column | None = None
    for marker, label in LICENSE_MARKERS:
        hit = low.contains(F.lit(marker))
        out = F.when(hit, F.lit(label)) if out is None else out.when(
            hit, F.lit(label)
        )
    assert out is not None
    return out.otherwise(F.lit("unknown"))


# Ordered refusal / AI-disclosure markers: first match wins. Same
# containment-only portability contract as LICENSE_MARKERS — the SFT /
# distillation-output hygiene gate (model-generated corpora accumulate
# refusals and self-references that must not reach training data).
REFUSAL_MARKERS: list[tuple[str, str]] = [
    ("i cannot assist", "refusal"),
    ("i can't assist", "refusal"),
    ("i cannot help with", "refusal"),
    ("i can't help with", "refusal"),
    ("i'm sorry, but i", "refusal"),
    ("i am sorry, but i", "refusal"),
    ("i must decline", "refusal"),
    ("as an ai language model", "ai_disclosure"),
    ("as an ai assistant", "ai_disclosure"),
    ("as a large language model", "ai_disclosure"),
    ("i do not have personal opinions", "ai_disclosure"),
    ("my knowledge cutoff", "ai_disclosure"),
    ("i'm just an ai", "ai_disclosure"),
]


def refusal_detect(col: Column | str) -> Column:
    """Classify model-generated text as 'refusal' / 'ai_disclosure' /
    'clean' by the ordered case-insensitive ``REFUSAL_MARKERS`` ladder —
    the gate that keeps refusals and AI self-references out of SFT /
    distillation training corpora. Pure whole-stage-codegen CASE over
    ``contains(lower(text), marker)``; no regex, no UDF."""
    low = F.lower(_col(col))
    out: Column | None = None
    for marker, label in REFUSAL_MARKERS:
        hit = low.contains(F.lit(marker))
        out = F.when(hit, F.lit(label)) if out is None else out.when(
            hit, F.lit(label)
        )
    assert out is not None
    return out.otherwise(F.lit("clean"))


def code_line_stats(col: Column | str) -> Column:
    """Per-document line statistics for code-quality gating (the
    StarCoder-style file filters): struct(n_lines, max_line_len,
    body_chars, alnum_chars) where body_chars excludes the newline
    separators (= length - n_lines + 1) and alnum_chars counts
    [A-Za-z0-9]. All four are exact integers from one split + one
    regexp strip, array ops stay in-row — scan-stage at any corpus
    size; thresholds and the gate ladder live with the caller."""
    c = _col(col)
    lines = F.split(c, "\n")
    return F.struct(
        F.size(lines).cast("bigint").alias("n_lines"),
        F.array_max(F.transform(lines, F.length)).cast("bigint").alias(
            "max_line_len"
        ),
        (F.length(c) - F.size(lines) + 1).cast("bigint").alias("body_chars"),
        F.length(F.regexp_replace(c, "[^A-Za-z0-9]", ""))
        .cast("bigint")
        .alias("alnum_chars"),
    )


def copyright_flag(col: Column | str) -> Column:
    """True when the document carries a copyright line: case-folded
    'copyright' or the '(c)' sigil. Same containment-only portability
    contract as license_detect."""
    low = F.lower(_col(col))
    return low.contains(F.lit("copyright")) | low.contains(F.lit("(c)"))


# Latin accent fold map (translate is code-point-wise in both Spark and
# DuckDB, so the pair below is engine-portable; ß needs replace, not
# translate, because it folds to TWO chars).
_FOLD_SRC = "áàâäãåÁÀÂÄÃÅéèêëÉÈÊËíìîïÍÌÎÏóòôöõÓÒÔÖÕúùûüÚÙÛÜñÑçÇýÿÝ"
_FOLD_DST = "aaaaaaAAAAAAeeeeEEEEiiiiIIIIoooooOOOOOuuuuUUUUnNcCyyY"


def unicode_fold(col: Column | str) -> Column:
    """ASCII-fold accented Latin letters and typographic punctuation:
    á→a, ß→ss, curly quotes→straight, en/em dashes→'-', ellipsis→'...',
    NBSP→space — the normalization applied BEFORE fingerprinting and
    tokenization so 'café' and 'cafe' dedup together (normalize_text
    would delete the non-ASCII letter outright, losing the token).
    Pure translate/replace chain, no regex, scan-stage codegen; the
    oracle states the identical chain with the same literal maps."""
    t = F.translate(_col(col), _FOLD_SRC, _FOLD_DST)
    for src, dst in (
        ("ß", "ss"), ("“", '"'), ("”", '"'), ("‘", "'"),
        ("’", "'"), ("–", "-"), ("—", "-"),
        ("…", "..."), (" ", " "),
    ):
        t = F.replace(t, F.lit(src), F.lit(dst))
    return t
