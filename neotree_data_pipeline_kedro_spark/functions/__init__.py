"""Scalar column-expression families (SURVEY.md §2.8).

Everything here returns a pyspark.sql.Column built only from built-in
functions — JVM-side, whole-stage-codegen friendly, no Python UDFs.
"""

from .booleans import bool_map
from .buckets import (
    age_category,
    aw_group,
    bw_group,
    gest_group,
    lbw_binary,
    temp_group,
    temp_thermia,
    under_28wks_1kg,
)
from .nulls import NULL_TOKENS, UID_JUNK_TOKENS, nullify, nullify_uid
from .strings import duration_to_hours, extract_first_number, extract_years
from .timestamps import parse_timestamp_multi
from .text import (
    doc_fingerprint,
    language_id,
    quality_score_components,
    token_count,
)

__all__ = [
    "NULL_TOKENS",
    "UID_JUNK_TOKENS",
    "age_category",
    "aw_group",
    "bool_map",
    "bw_group",
    "doc_fingerprint",
    "duration_to_hours",
    "extract_first_number",
    "extract_years",
    "gest_group",
    "language_id",
    "lbw_binary",
    "nullify",
    "nullify_uid",
    "parse_timestamp_multi",
    "quality_score_components",
    "temp_group",
    "temp_thermia",
    "token_count",
    "under_28wks_1kg",
]
