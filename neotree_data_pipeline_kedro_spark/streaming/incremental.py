"""Incremental / "streaming" semantics (SURVEY.md §2.9).

The reference has no streaming runtime — a cron re-runs the pipeline every
N hours with hand-rolled NOT-EXISTS incremental predicates and lifecycle
flags (assorted_queries.py:241-252,849-855; merge_all.py:598-677). Two
Spark mappings, both preserved here:

1. batch-incremental: ``incremental_sink`` = anti-join against the sink key
   set then append (exact reference semantics; late data handled by the
   NOT-EXISTS, not watermarks).
2. Structured Streaming ``Trigger.AvailableNow`` with ``foreachBatch``:
   ``run_foreach_batch_rollup`` keeps a rollup current, merging each
   micro-batch into the stored state.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import incremental_append
from ..sources.warehouse import _publish_swap, _recover_swap, _swap_paths


def incremental_sink(
    spark: SparkSession,
    incoming: DataFrame,
    sink_path: str,
    keys: Sequence[str],
) -> int:
    """Append rows whose key is not yet in the parquet sink; returns the
    number of appended rows. The sink read projects only ``keys`` (column
    pruning keeps the anti-join narrow at scale)."""
    if _sink_exists(sink_path):
        existing = spark.read.parquet(sink_path).select(*keys)
        fresh = incremental_append(incoming, existing, keys)
    else:
        fresh = incoming
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(sink_path)
    return n


def _sink_exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


# --------------------------------------------------------- file manifest
# The exactly-once discipline of the foreachBatch rollup below: a batch's
# effects are applied once PER SOURCE FILE by persisting the set of
# already-merged files as a `_merged_files` sidecar inside the state
# directory (parquet readers ignore `_`-prefixed files), and the state plus
# its manifest are replaced together through sources/warehouse's
# crash-safe directory swap.


def _read_manifest(state_dir: str) -> set[str]:
    meta = os.path.join(state_dir, "_merged_files")
    if os.path.isfile(meta):
        with open(meta) as fh:
            return {ln.strip() for ln in fh if ln.strip()}
    return set()


def _norm_uri(uri: str) -> str:
    # Canonicalize FILE-scheme variants only: file:///x, file:/x and /x
    # all name the same local file. Any other scheme/authority is kept
    # VERBATIM as the manifest key — stripping it would collapse
    # s3a://a/p and hdfs://a/p into one key and break the mixed-batch
    # re-read (r7 advice); non-local sources are rejected up front.
    if uri.startswith("file:"):
        rest = uri[len("file:"):]
        if rest.startswith("//"):  # file://host/p — drop empty/localhost
            rest = rest[2:]
            host, _, path = rest.partition("/")
            if host not in ("", "localhost"):
                return uri
            rest = path
        return "/" + rest.lstrip("/")
    if "://" in uri:
        return uri
    return "/" + uri.lstrip("/")


def _batch_files(batch: DataFrame) -> list[str]:
    """The micro-batch's normalized source-file set (metadata-sized
    collect bounded by files-per-batch, same scale as a txn-log entry)."""
    from pyspark.sql import functions as F

    return sorted(
        {
            _norm_uri(r.f)
            for r in batch.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
            if r.f
        }
    )


def _merge_new_files(
    batch: DataFrame,
    schema,
    state_dir: str,
    step: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> None:
    """One micro-batch of a manifest-tracked state sink: recover an
    interrupted swap, keep only the batch's not-yet-merged source files,
    and let ``step(source_rows, stored_state_or_None)`` build
    the next state, which is written with the grown manifest and swapped
    in. A batch that mixes merged and unmerged files (fresh checkpoint,
    wider trigger) re-reads just the unmerged files, so already-merged
    content never double-counts."""
    _recover_swap(state_dir)
    # micro-batch DataFrames report no inputFiles(); input_file_name()
    # still resolves for the file source
    files = _batch_files(batch)
    if not files:
        return  # empty micro-batch: nothing to merge, keep the swap out
    done = _read_manifest(state_dir)
    new = [f for f in files if f not in done]
    if not new:
        return  # at-least-once replay: every source file already merged
    s = batch.sparkSession
    src = batch if len(new) == len(files) else s.read.schema(schema).parquet(*new)
    stored = s.read.parquet(state_dir) if os.path.isdir(state_dir) else None
    tmp = _swap_paths(state_dir)[0]
    step(src, stored).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_merged_files"), "w") as fh:
        fh.write("\n".join(sorted(done.union(new))) + "\n")
    _publish_swap(state_dir)


def run_foreach_batch_rollup(
    spark: SparkSession,
    source_path: str,
    schema,
    rollup_path: str,
    checkpoint: str,
    keys: Sequence[str],
    measures,
    max_files_per_trigger: int | None = 1,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Streaming materialized-view maintenance: every micro-batch is
    partially aggregated and MERGED into the stored rollup
    (operators/incremental_agg partial_rollup + merge_rollup via
    foreachBatch) — the continuously-current form of the reference's
    rebuild-the-summary-every-cron (create_summary_counts_sql.py), with
    per-cycle cost = |batch| + |rollup|, never the history.

    Crash safety: foreachBatch delivery is AT-LEAST-once (a batch that
    committed its merge but crashed before the checkpoint advanced is
    replayed on restart), so the merge itself is made idempotent — and
    the idempotency token is the batch's SOURCE FILE set, not the epoch
    id. Epoch ids are only unique within one checkpoint lineage: a
    stream restarted with a fresh or relocated checkpoint renumbers
    from 0, and which files land in epoch k depends on listing order
    and maxFilesPerTrigger — an ``epoch <= stored`` skip there silently
    drops never-merged data. Instead the manifest of already-merged
    source files is persisted INSIDE the rollup directory as a
    ``_merged_files`` sidecar (Spark's parquet reader ignores
    ``_``-prefixed files) and travels through the same rename swap as
    the data; each batch merges only its not-yet-merged files
    (``input_file_name()`` over the batch), so merge effects are
    exactly-once PER
    SOURCE FILE even though delivery is not, across checkpoint
    lineages, re-groupings, and replays. A batch that mixes merged and
    unmerged files (fresh checkpoint with a wider trigger) re-reads
    just the unmerged files. The manifest grows one line per source
    file — the same order of metadata a transaction log keeps; compact
    the source to compact it. The rollup is replaced through
    sources/warehouse's directory swap, and a crash mid-swap is
    recovered on the next batch before anything is read: a dangling
    ``.__rollup_old`` with no live rollup is renamed back (so history is
    never silently reset to one batch), and stale
    ``.__rollup_tmp``/``.__rollup_old`` leftovers are purged.
    ``measures`` must still be the decomposable set partial_rollup
    enforces AND the source append-only (merge_rollup caveats unchanged).
    """
    from ..operators.incremental_agg import merge_rollup, partial_rollup

    # The atomic swap (os.rename), the _merged_files manifest (open/read),
    # and the crash recovery all use LOCAL filesystem primitives: reject
    # non-local source/rollup paths up front instead of failing obscurely
    # mid-swap (r7 advice). An object-store deployment would swap via the
    # store's own atomic rename/commit protocol, not this function.
    for p, nm in ((source_path, "source_path"), (rollup_path, "rollup_path")):
        if "://" in p and not p.startswith("file:"):
            raise ValueError(
                f"run_foreach_batch_rollup: {nm} must be a local-filesystem "
                f"path (the rename swap and manifest use os primitives); "
                f"got {p!r}"
            )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    src = reader.parquet(source_path)

    def step(src_df: DataFrame, stored) -> DataFrame:
        if transform is not None:
            # per-batch derivation (e.g. histogram bucketing) applied on
            # BOTH ingest paths so a mixed-batch re-read rolls up the
            # same shape; must be row-local (no cross-batch state)
            src_df = transform(src_df)
        delta = partial_rollup(src_df, keys, measures)
        return merge_rollup(stored, delta, keys, measures)

    def merge(batch: DataFrame, _epoch: int) -> None:
        _merge_new_files(batch, schema, rollup_path, step)

    q = (
        src.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
