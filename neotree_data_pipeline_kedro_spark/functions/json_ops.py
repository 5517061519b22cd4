"""JSON scalar operators (SURVEY.md §2.8 JSON family).

The reference mutates JSONB in place with Postgres operators:
``jsonb_set`` targeted rewrites (label fix assorted_queries.py:804-828, uid
rewrite :728-770), key deletion ``data - ARRAY[...]`` guarded by ``?|``
any-key existence (:870-908). Spark columns are immutable, so a rewrite is
a reprojection: parse → map op → serialize.

Scope: top-level keys of a JSON *object* column. Values survive as their
raw JSON text (Spark's map<string,string> parse captures unparsed nested
objects verbatim), so deletion round-trips nested payloads; ``json_set``
writes the new value as a JSON string scalar, matching the reference's two
call sites (both write text values).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MAP = T.MapType(T.StringType(), T.StringType())


def _as_map(json_col: Column) -> Column:
    return F.from_json(json_col, _MAP)


def json_set(json_col: Column, key: str, value: Column) -> Column:
    """``jsonb_set(col, '{key}', to_jsonb(value::text))``
    (assorted_queries.py:728-770): set/overwrite a top-level key. NULL
    input objects stay NULL (jsonb_set semantics)."""
    updated = F.map_concat(
        F.map_filter(_as_map(json_col), lambda k, _v: k != F.lit(key)),
        F.create_map(F.lit(key), value.cast("string")),
    )
    return F.when(json_col.isNotNull(), F.to_json(updated))


def json_delete_keys(json_col: Column, keys: Sequence[str]) -> Column:
    """``col - ARRAY['k1','k2']`` (assorted_queries.py:870-908): remove
    top-level keys."""
    kept = F.map_filter(_as_map(json_col), lambda k, _v: ~k.isin(*keys))
    return F.when(json_col.isNotNull(), F.to_json(kept))


def json_has_any_key(json_col: Column, keys: Sequence[str]) -> Column:
    """``col ?| ARRAY['k1','k2']`` (assorted_queries.py:884): true when any
    listed top-level key exists. NULL object → false, like Postgres ``?|``
    on NULL yields NULL which the reference's WHERE treats as no-match."""
    return F.coalesce(
        F.arrays_overlap(
            F.map_keys(_as_map(json_col)),
            F.array(*[F.lit(k) for k in keys]),
        ),
        F.lit(False),
    )

