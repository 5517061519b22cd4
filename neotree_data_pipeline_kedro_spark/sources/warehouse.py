"""Bucketed warehouse writes: co-located joins without runtime shuffles.

The reference leans on Postgres B-tree indexes for its hot join keys
(create_joined_table_and_derived_columns.py:130-155;
merge_all.py:537-588). The Spark-native counterpart is bucketing: write
both sides of a recurring join bucketed (and optionally sorted) by the
join key, and every subsequent join on that key reads bucket-aligned
files — no Exchange on either side, the single biggest shuffle saving for
the admission↔discharge / uid-keyed join family at 100 TB. The contract
is pinned in tests/test_warehouse_bucketing.py: a MERGE-hinted join of
two co-bucketed tables plans with zero exchanges.

Use for the stable silver/gold tables the engine re-joins every cron
cycle (deduplicated sessions, admissions/discharges, the ALL table);
one-shot intermediates should stay plain parquet (bucketing costs a
shuffle at write time).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    buckets: int = 64,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Save ``df`` as a managed table bucketed by ``keys`` into
    ``buckets`` files per partition (sorted within buckets when
    ``sort_by`` is given, which also removes the Sort under sort-merge
    joins). Bucket count is a durable layout choice: both sides of a
    co-located join must use the same keys and count."""
    w = df.write.format(fmt).mode(mode).bucketBy(int(buckets), *keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a managed table back (bucketing metadata applies
    automatically; no option needed)."""
    return spark.table(table)


# ------------------------------------------------------------------ swap
# The package's one way to replace a directory in place (compaction and
# the streaming rollup state): write the new contents to the
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


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: Sequence[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet location into
    ~``target_file_mb`` files — the maintenance job every long-lived
    landing zone needs (streaming/incremental appends accrete thousands of
    tiny files; each costs a task + a footer read + NameNode/S3 metadata,
    and row-group-level pruning stops working).

    File count = ceil(total_bytes / target), measured from the existing
    footprint, so the rewrite is one job with no driver-side data.
    ``sort_within_by`` range-partitions on its columns and sorts within
    each output file (one range shuffle — the compaction already moves
    every row once, so clustering rides the same pass) so min/max file
    and row-group statistics on those columns become selective and scans
    with matching filters skip whole files.
    ``zorder_by=(x_col, y_col)`` clusters files on the Morton interleave
    of two integer key columns (functions/zorder.py): rows are
    range-partitioned AND sorted by the code, so each output file covers
    a small rectangle of (x, y) space and scans filtering EITHER column
    skip most files — the two-dimensional layout a single-column sort
    cannot give. ``sort_within_by`` alone also now range-partitions on
    its first column (global clustering: non-overlapping file ranges,
    not just row-group-sorted files).

    The rewrite replaces ``path`` through the directory swap
    (``_publish_swap``): readers never see a half-written file set (they
    can race the brief window between renames and retry; on object
    stores, prefer a manifest/catalog pointer flip instead), and a swap
    interrupted by a crash is recovered before the footprint is measured.
    Returns the new file count.
    """
    _recover_swap(path)
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
    n_files = max(1, -(-total // (target_file_mb << 20)))
    df = spark.read.parquet(path)
    if zorder_by is not None:
        from ..functions.zorder import morton2_scaled

        x_col, y_col = zorder_by
        # one tiny agg for the bounds (4 scalars to the driver — this is a
        # maintenance job, not the scan path): scaling both dimensions to a
        # common bit-width is what makes the interleave balanced when the
        # keys' ranges differ (raw bits would sort by the wider key alone)
        lo_x, hi_x, lo_y, hi_y = df.agg(
            F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
        ).first()
        df = (
            df.withColumn(
                "__zcode",
                morton2_scaled(
                    F.col(x_col), F.col(y_col),
                    float(lo_x), float(hi_x), float(lo_y), float(hi_y),
                ),
            )
            .repartitionByRange(n_files, "__zcode")
            .sortWithinPartitions("__zcode")
            .drop("__zcode")
        )
    elif sort_within_by:
        df = df.repartitionByRange(
            n_files, *[F.col(c) for c in sort_within_by]
        ).sortWithinPartitions(*sort_within_by)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(_swap_paths(path)[0])
    _publish_swap(path)
    return n_files


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
    skipping via a manifest, the mechanism that makes Z-order/sort
    clustering (functions/zorder.py, compact_parquet) pay off: after
    clustering, most files' ranges are disjoint from most predicates and
    never leave the object store.

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


def write_snapshot(df: DataFrame, base_dir: str, fmt: str = "parquet") -> int:
    """Versioned snapshot write (time travel): ``stage_snapshot`` lands a
    complete immutable copy under ``base_dir/v=N``, then
    ``publish_snapshot`` atomically flips the ``_LATEST`` pointer —
    readers either see the previous snapshot or the new one, never a
    half-written directory. Returns the new version number.

    This is the poor-man's table format: what Iceberg/Delta do with
    manifests, reduced to "directory per version + one pointer file" —
    enough for reproducible training runs ("read the corpus exactly as
    it was for run 17"), diffable snapshots (j14_table_diff between two
    versions), and safe concurrent readers during writes. Full copies
    per version: use for dimension/summary-sized tables, not the raw
    fact layer.
    """
    version = stage_snapshot(df, base_dir, fmt)
    publish_snapshot(base_dir, version)
    return version


def read_snapshot_version(base_dir: str) -> int | None:
    """Current published version per the ``_LATEST`` pointer (None when
    the table has never been published)."""
    p = os.path.join(base_dir, "_LATEST")
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return int(fh.read().strip())


def read_snapshot(
    spark: SparkSession,
    base_dir: str,
    version: int | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Time-travel read: ``version=None`` resolves the ``_LATEST``
    pointer; an explicit version pins a historical snapshot (raises if
    it was vacuumed). Resolution is one pointer-file read — no listing
    of the table directory, so resolution cost is independent of
    history length."""
    if version is None:
        version = read_snapshot_version(base_dir)
        if version is None:
            raise FileNotFoundError(f"no published snapshot under {base_dir}")
    vdir = os.path.join(base_dir, f"v={version}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"snapshot v={version} not found (vacuumed?)")
    return spark.read.format(fmt).load(vdir)


def vacuum_snapshots(base_dir: str, keep: int = 2) -> list[int]:
    """Retention: delete all but the newest ``keep`` versions (never the
    published one). Returns the removed version numbers. Deletion order
    is oldest-first so a crash mid-vacuum leaves a contiguous recent
    history."""
    current = read_snapshot_version(base_dir)
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(base_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    doomed = [
        v for v in versions[: max(0, len(versions) - keep)] if v != current
    ]
    for v in doomed:
        shutil.rmtree(os.path.join(base_dir, f"v={v}"))
    return doomed


def stage_snapshot(df: DataFrame, base_dir: str, fmt: str = "parquet") -> int:
    """WRITE leg of write-audit-publish: land a complete immutable
    ``v=N`` directory WITHOUT flipping ``_LATEST`` — readers keep seeing
    the published snapshot while audits run against the staged one. The
    version is allocated past every existing ``v=`` directory (published
    or staged), so concurrent stages cannot collide with the pointer."""
    os.makedirs(base_dir, exist_ok=True)
    existing = [
        int(m.group(1))
        for d in os.listdir(base_dir)
        if (m := re.fullmatch(r"v=(\d+)", d))
    ]
    version = (max(existing) if existing else -1) + 1
    df.write.format(fmt).mode("errorifexists").save(
        os.path.join(base_dir, f"v={version}")
    )
    return version


def publish_snapshot(base_dir: str, version: int) -> None:
    """PUBLISH leg: atomically flip ``_LATEST`` to a previously staged
    version (write the pointer to a temp file, then ``os.replace``)."""
    if not os.path.isdir(os.path.join(base_dir, f"v={version}")):
        raise FileNotFoundError(
            f"publish_snapshot: staged directory v={version} missing "
            f"under {base_dir!r}"
        )
    tmp = os.path.join(base_dir, "_LATEST.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(base_dir, "_LATEST"))


def abort_snapshot(base_dir: str, version: int) -> None:
    """Discard a staged version. Refuses to remove the PUBLISHED one —
    an abort must never take the live table away from readers."""
    if read_snapshot_version(base_dir) == version:
        raise ValueError(
            f"abort_snapshot: v={version} is published; aborting it would "
            "remove the live snapshot"
        )
    vdir = os.path.join(base_dir, f"v={version}")
    if os.path.isdir(vdir):
        shutil.rmtree(vdir)


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    base_dir: str,
    audits,
    fmt: str = "parquet",
) -> tuple[int, bool, list[str]]:
    """Write-audit-publish (the Iceberg WAP pattern on the snapshot
    store): stage the snapshot, run every audit against the STAGED
    files (re-read, so audits see exactly what readers would), and flip
    the pointer only if all pass — a failing audit aborts the stage and
    the published table is untouched. ``audits`` is a sequence of
    callables ``DataFrame -> str | None`` returning a failure message
    or None; all audits run (the report lists every failure, not just
    the first). Returns (version, published, failures)."""
    version = stage_snapshot(df, base_dir, fmt)
    staged = spark.read.format(fmt).load(
        os.path.join(base_dir, f"v={version}")
    )
    failures = [msg for a in audits if (msg := a(staged)) is not None]
    if failures:
        abort_snapshot(base_dir, version)
        return version, False, failures
    publish_snapshot(base_dir, version)
    return version, True, []


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
