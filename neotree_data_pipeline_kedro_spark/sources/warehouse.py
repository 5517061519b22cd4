"""Warehouse storage helpers: the directory swap, file-level min/max
pruning, format round-trips and compaction planning.

- The crash-safe directory swap (``_swap_paths`` / ``_recover_swap`` /
  ``_publish_swap``) is the package's one way to replace a directory in
  place; the CLI's warehouse and the streaming rollup state go through it.
- ``file_minmax_stats`` / ``minmax_prune_scan`` skip the files whose
  min/max range misses a predicate, the way a lakehouse manifest does.
- ``roundtrip_format`` writes a frame through ORC (or another columnar
  format) and reads it back.
- ``compaction_bins`` plans an order-preserving compaction: contiguous
  runs of files packed into bins of a target size.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ------------------------------------------------------------------ swap
# The package's one way to replace a directory in place (the CLI's
# warehouse, the streaming rollup state): write the new contents to the
# ``<live>.__rollup_tmp`` sibling, then (live -> ``.__rollup_old``) ->
# (tmp -> live) -> rm old. A crash at any point leaves the live dir or its
# old sibling on disk, never neither; every caller runs ``_recover_swap``
# before it reads the live dir, which renames a dangling old sibling back
# and purges stale leftovers. The sibling names are fixed, so a leftover
# from any earlier run is still found. Local filesystem only (os.rename).


def _swap_paths(live: str) -> tuple[str, str]:
    """The (tmp, old) siblings of ``live``."""
    live = live.rstrip("/")
    return live + ".__rollup_tmp", live + ".__rollup_old"


def _recover_swap(live: str) -> None:
    """Undo a swap interrupted by a crash: restore ``live`` from
    its old sibling when the crash fell between the two renames, and
    purge any other leftover."""
    tmp, old = _swap_paths(live)
    if os.path.isdir(old):
        if os.path.isdir(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)


def _publish_swap(live: str) -> None:
    """Promote the fully-written tmp sibling to ``live`` (tmp must exist)."""
    tmp, old = _swap_paths(live)
    if os.path.isdir(live):
        os.rename(live, old)
        os.rename(tmp, live)
        shutil.rmtree(old)
    else:
        os.rename(tmp, live)


def roundtrip_format(df: DataFrame, path: str, fmt: str = "orc") -> DataFrame:
    """Write ``df`` through a columnar file format and read it back —
    the interchange seam for warehouses that standardize on ORC (Spark's
    second native columnar format; same predicate-pushdown and column-
    pruning contract as parquet via the vectorized ORC reader). The
    engine's own stages stay parquet; this covers ingesting from /
    exporting to ORC estates.

    `s9_orc_roundtrip` pins cross-format fidelity: decimals, dates and
    strings must survive the ORC writer/reader byte-for-byte (the hash
    oracle reads the parquet original).
    """
    spark = df.sparkSession
    df.write.mode("overwrite").format(fmt).save(path)
    return spark.read.format(fmt).load(path)


def file_minmax_stats(
    spark: SparkSession, table_dir: str, col: str
) -> DataFrame:
    """Per-file min/max manifest for ``col`` over a parquet directory —
    the hand-rolled equivalent of a lakehouse table format's file-level
    statistics (Delta/Iceberg manifests). One aggregate keyed by
    input_file_name(); the result is file-count-sized."""
    df = spark.read.parquet(table_dir)
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(F.min(col).alias("min_v"), F.max(col).alias("max_v"))
    )


def minmax_prune_scan(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, int, int]:
    """Scan ``table_dir`` for rows with ``col`` in [lo, hi], reading ONLY
    the files whose min/max range intersects the predicate — data
    skipping via a manifest, the mechanism that makes sort or Z-order
    clustering (functions/zorder.py) pay off: after clustering, most
    files' ranges are disjoint from most predicates and never leave the
    object store.

    Returns (dataframe, files_read, files_total). The residual filter is
    still applied (file granularity over-approximates); correctness
    never depends on the pruning, only scan cost does. The manifest
    collect is file-count-sized — at real scale persist it once per
    table (it is the same information a lakehouse manifest caches) and
    broadcast-join instead of re-deriving per query.
    """
    stats = file_minmax_stats(spark, table_dir, col).collect()
    keep = [
        r["file"]
        for r in stats
        if r["min_v"] is not None and r["max_v"] >= lo and r["min_v"] <= hi
    ]
    base = (
        spark.read.parquet(*keep)
        if keep
        else spark.read.parquet(table_dir).limit(0)
    )
    return (
        base.filter((F.col(col) >= lo) & (F.col(col) <= hi)),
        len(keep),
        len(stats),
    )


def compaction_bins(
    files: DataFrame,
    order_cols: Sequence[str],
    size_col: str,
    target_bytes: int,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Order-preserving compaction bin-packing plan: given a file
    inventory (one row per file with a byte size), assign CONTIGUOUS
    runs of files — in ``order_cols`` order — to output bins of
    ~``target_bytes`` via ``bin = exclusive_prefix_sum(size) div
    target`` — the planning half of an Iceberg/Delta OPTIMIZE pass.
    Order-preserving (vs first-fit-decreasing) because the inventory's
    sort order IS the table's clustering: packing adjacent files keeps
    min/max file statistics selective after the rewrite, which is the
    point of compacting.

    Scale shape: one ``global_prefix_scan`` (range-partition + local
    cumsum + driver-side per-partition offsets — no single-partition
    sort at any inventory size); everything else is expressions. Bins
    overfill by at most one file (a file larger than ``target_bytes``
    gets its own bin and spills the next boundary), the classic
    next-fit guarantee: every bin except possibly the last holds
    >= target_bytes only if a single file exceeds it, and bin count
    <= ceil(total/target) + n_oversized.

    Output: the input columns + ``bin_col`` (0-based BIGINT).
    """
    if target_bytes <= 0:
        raise ValueError("compaction_bins: target_bytes must be positive")
    from ..operators.windows import global_prefix_scan

    scanned = global_prefix_scan(
        files, list(order_cols), size_col, rn_col="__rn", cum_col="__cum"
    )
    before = F.col("__cum") - F.col(size_col)  # exclusive prefix
    # non-negative prefix, so integral `div` truncation == floor (the
    # repo-wide no-`/`-into-long rule; doubles round past 2^53)
    bin_id = F.call_function("div", before, F.lit(target_bytes)).cast("bigint")
    return scanned.withColumn(bin_col, bin_id).drop("__rn", "__cum")
