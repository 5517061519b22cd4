"""Incremental / "streaming" semantics (SURVEY.md §2.9).

The reference has no streaming runtime — a cron re-runs the pipeline every
N hours with hand-rolled NOT-EXISTS incremental predicates and lifecycle
flags (assorted_queries.py:241-252,849-855; merge_all.py:598-677). Two
Spark mappings, both preserved here:

1. batch-incremental: ``incremental_sink`` = anti-join against the sink key
   set then append (exact reference semantics; late data handled by the
   NOT-EXISTS, not watermarks).
2. Structured Streaming ``Trigger.AvailableNow`` over the same
   transformation for users who want checkpointed incrementality.
"""

from __future__ import annotations

import json
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
# The exactly-once discipline shared by the foreachBatch state sinks below
# (rollup, histogram, corpus-build census): a batch's effects are applied
# once PER SOURCE FILE by persisting the set of already-merged files as a
# `_merged_files` sidecar inside the state directory (parquet readers
# ignore `_`-prefixed files), and the state plus its manifest are replaced
# together through sources/warehouse's crash-safe directory swap.


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
    step: Callable[[DataFrame, DataFrame | None, list[str]], DataFrame],
) -> None:
    """One micro-batch of a manifest-tracked state sink: recover an
    interrupted swap, keep only the batch's not-yet-merged source files,
    and let ``step(source_rows, stored_state_or_None, new_files)`` build
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
    step(src, stored, new).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_merged_files"), "w") as fh:
        fh.write("\n".join(sorted(done.union(new))) + "\n")
    _publish_swap(state_dir)


def run_available_now(
    spark: SparkSession,
    source_path: str,
    schema,
    transform: Callable[[DataFrame], DataFrame],
    sink_path: str,
    checkpoint: str,
) -> None:
    """Structured Streaming equivalent: process all available files once
    (Trigger.AvailableNow), checkpointed, then stop — the Spark-native form
    of the reference's cron batch."""
    src = spark.readStream.schema(schema).parquet(source_path)
    out = transform(src)
    q = (
        out.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch_upsert(
    spark: SparkSession,
    source_path: str,
    schema,
    sink_path: str,
    checkpoint: str,
    keys: Sequence[str],
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming first-write-wins upsert sink: every micro-batch passes
    through ``incremental_sink`` (anti-join against the DURABLE sink key
    set, then append) via ``foreachBatch`` — the streaming form of the
    reference's NOT-EXISTS import contract. Unlike
    ``dropDuplicatesWithinWatermark`` (state = keys inside the horizon),
    the guard here is the sink itself, so a key that arrived months ago
    still suppresses re-imports; the price is one key-projected sink scan
    per batch (bucket the sink by key to keep that scan pruned at scale).
    foreachBatch also makes the write idempotent-enough for retries: a
    replayed batch anti-joins against its own previous append.

    ``max_files_per_trigger`` defaults to 1 — one source file per
    micro-batch, the reference's per-file import loop — which makes
    first-wins deterministic across files (file modification order). The
    sink guard is CROSS-batch only: widen the trigger only if batches are
    already key-deduped (compose with operators/dedup upstream)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    src = reader.parquet(source_path)

    def upsert(batch: DataFrame, _epoch: int) -> None:
        incremental_sink(batch.sparkSession, batch, sink_path, keys)

    q = (
        src.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


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

    def step(src_df: DataFrame, stored, _new) -> DataFrame:
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


def run_foreach_batch_histogram(
    spark: SparkSession,
    source_path: str,
    schema,
    state_path: str,
    checkpoint: str,
    group: str,
    value: str,
    lo: float,
    hi: float,
    buckets: int = 64,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming quantile-sketch maintenance: keep a mergeable
    equi-width histogram state (operators/frequency.histogram_state's
    shape) continuously current over a file stream — approximate
    percentiles over unbounded data without ever re-scanning history,
    the streaming companion of u15_histogram_quantiles. Each
    micro-batch is bucketized row-locally (frequency.histogram_bucket)
    and merged into the stored (group, bucket, count_bucket) table via
    run_foreach_batch_rollup, inheriting its source-file-set
    idempotency and atomic swap, so replays and checkpoint relocations
    never double-count. Read the state back and feed
    frequency.histogram_quantile (rename count_bucket → cnt) for
    estimates with the same one-bucket-width error bound as the batch
    form."""
    from pyspark.sql import functions as F

    from ..operators.frequency import histogram_bucket

    def bucketize(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(group),
            histogram_bucket(value, lo, hi, buckets).alias("bucket"),
        )

    run_foreach_batch_rollup(
        spark,
        source_path,
        schema,
        state_path,
        checkpoint,
        keys=(group, "bucket"),
        measures={"bucket": "count"},
        max_files_per_trigger=max_files_per_trigger,
        transform=bucketize,
    )


def run_foreach_batch_corpus_build(
    spark: SparkSession,
    source_path: str,
    schema,
    out_root: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    langs: Sequence[str] = ("en", "de", "fr", "es"),
    tok_lo: int = 5,
    tok_hi: int = 10_000,
    max_files_per_trigger: int | None = 1,
    ann_path: str | None = None,
    ann_vec_col: str = "embedding",
    ann_skew_ratio: float = 4.0,
) -> None:
    """The cb1 corpus-build funnel as a CONTINUOUS ingest (VERDICT r10
    #7a): every micro-batch of landing documents runs quarantine →
    quality/language gates → exact-fingerprint dedup (within-batch AND
    against everything already kept) and lands its survivors plus a
    cumulative per-(source, disposition) census — the shape a training
    corpus actually grows by, where cb1's one-shot query is the
    backfill and this is the steady state.

    Layout under ``out_root``:
      - ``corpus/batch=<id>/`` — kept rows (id, source, fp, n_tokens;
        text does NOT ride into state, the cb1 discipline), one
        partition per processed file-set, published with the
        append_ann_index staged-rename so a replayed batch can never
        land rows twice;
      - ``census/`` — the cumulative (source, disposition, n) table,
        replaced per batch through the same swap as the rollup, with the
        ``_merged_files`` manifest making census effects exactly-once
        per SOURCE FILE across checkpoint relocations and replays.

    The CONSERVATION IDENTITY now holds ACROSS batches, not per run:
    sum(census.n) == rows of every manifest-listed landing file, and
    census['kept'] == corpus row count — dropped rows cannot hide in a
    crash/replay seam because corpus publication (staged rename, keyed
    on the file-set) commits before the census manifest, and a crash
    between the two replays into a skip-write + census merge.
    ``corpus_build_conservation`` audits the identity from disk.

    Dispositions (each landing row gets exactly one, gates in cb1
    order): ``quarantined`` (NULL/whitespace-only text), ``gated``
    (token count outside [tok_lo, tok_hi] or language not allowed),
    ``dup_in_batch`` (a smaller id in the same batch owns the
    fingerprint), ``dup_cross_batch`` (an earlier batch's kept row owns
    it), ``kept``.

    When ``ann_path`` names an existing IVFPQ index (VERDICT r11 #7:
    the corpus must grow AND stay searchable in the same loop), each
    batch's KEPT rows' ``ann_vec_col`` vectors flow through
    ``maintain_ann_index`` between corpus publication and the census
    commit: raw vectors land in the index's sidecar, codes are encoded
    against the frozen quantizers, and the per-batch skew report is
    written to ``ann_path/maintenance/<batch_id>.json`` for the
    offline re-train scheduler. Exactly-once composes because every
    leg is staged-rename idempotent on the SAME file-set batch_id and
    the census manifest is the last commit: a crash at any seam
    replays into skip-writes for the legs already published and a
    fresh write for the rest, so after any replay corpus rows, index
    codes/vectors, and census counts all agree (pinned in pytest with
    an ivfpq_topk-vs-from-scratch equality over the final corpus)."""
    import hashlib

    from pyspark.sql import functions as F

    for p, nm in (
        (source_path, "source_path"),
        (out_root, "out_root"),
        *(((ann_path, "ann_path"),) if ann_path is not None else ()),
    ):
        if "://" in p and not p.startswith("file:"):
            raise ValueError(
                f"run_foreach_batch_corpus_build: {nm} must be a "
                f"local-filesystem path (staged renames and the manifest "
                f"use os primitives); got {p!r}"
            )
    corpus_dir = os.path.join(out_root, "corpus")
    census_dir = os.path.join(out_root, "census")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    src = reader.parquet(source_path)

    def step(src_df: DataFrame, stored, new: list[str]) -> DataFrame:
        s = src_df.sparkSession
        # --- the cb1 gate ladder, expression-only, text dropped here ---
        trimmed = F.regexp_replace(
            F.coalesce(F.col(text_col), F.lit("")), r"^\s+|\s+$", ""
        )
        n_tokens = F.when(trimmed == "", F.lit(0).cast("bigint")).otherwise(
            F.length(F.regexp_replace(trimmed, r"\S+", "")).cast("bigint") + 1
        )
        quar = F.col(text_col).isNull() | (trimmed == "")
        gated = (~quar) & (
            ~n_tokens.between(tok_lo, tok_hi)
            | ~F.col(lang_col).isin(*langs)
        )
        base = src_df.select(
            F.col(id_col).alias("id"),
            F.col(source_col).alias("source"),
            n_tokens.alias("n_tokens"),
            quar.alias("__quar"),
            gated.alias("__gated"),
            F.md5(F.col(text_col)).alias("fp"),
            # the vector rides only when the index leg is on (bounded
            # per-row state, unlike text — the cb1 discipline holds)
            *((F.col(ann_vec_col).alias("__vec"),) if ann_path else ()),
        )

        from pyspark.sql import Window

        w = Window.partitionBy("fp").orderBy("id")
        ranked = base.withColumn(
            "__dup_in_batch",
            (~F.col("__quar"))
            & (~F.col("__gated"))
            & (F.row_number().over(w) > 1),
        )
        # cross-batch guard: the durable corpus's fp set (fp-projected
        # scan — at scale, bucket the corpus by fp to prune it)
        if _sink_exists_tree(corpus_dir):
            seen = s.read.parquet(corpus_dir).select("fp").dropDuplicates(["fp"])
            ranked = ranked.join(
                seen.withColumn("__seen", F.lit(True)), "fp", "left"
            )
        else:
            ranked = ranked.withColumn("__seen", F.lit(None).cast("boolean"))
        disp = (
            F.when(F.col("__quar"), "quarantined")
            .when(F.col("__gated"), "gated")
            .when(F.col("__dup_in_batch"), "dup_in_batch")
            .when(F.col("__seen"), "dup_cross_batch")
            .otherwise("kept")
        )
        staged = ranked.select(
            "id",
            "source",
            "fp",
            "n_tokens",
            disp.alias("disposition"),
            *(("__vec",) if ann_path else ()),
        ).localCheckpoint()

        # --- corpus publication first (staged dir + one atomic rename,
        # keyed on the file-set so a replay finds it and skips) ---
        batch_id = hashlib.md5("\n".join(new).encode()).hexdigest()[:12]
        target = os.path.join(corpus_dir, f"batch={batch_id}")
        if not os.path.isdir(target):
            os.makedirs(corpus_dir, exist_ok=True)
            stage = os.path.join(corpus_dir, f"_stage_{batch_id}")
            (
                staged.filter(F.col("disposition") == "kept")
                .select("id", "source", "fp", "n_tokens")
                .write.mode("overwrite")
                .parquet(stage)
            )
            os.rename(stage, target)

        # --- index maintenance between corpus publish and census
        # commit: both its legs (vector sidecar, codes append) are
        # staged-rename idempotent on this same batch_id, so any
        # crash/replay ordering lands each component exactly once ---
        if ann_path is not None:
            from ..operators.similarity import maintain_ann_index

            kept_vecs = staged.filter(
                F.col("disposition") == "kept"
            ).select("id", F.col("__vec").alias(ann_vec_col))
            if kept_vecs.limit(1).count():
                report = maintain_ann_index(
                    kept_vecs,
                    ann_path,
                    "id",
                    ann_vec_col,
                    batch_id=batch_id,
                    skew_ratio=ann_skew_ratio,
                )
                maint_dir = os.path.join(ann_path, "maintenance")
                os.makedirs(maint_dir, exist_ok=True)
                with open(
                    os.path.join(maint_dir, f"{batch_id}.json"), "w"
                ) as fh:
                    json.dump(report, fh, sort_keys=True)

        # --- census merge second (committed with the manifest) ---
        delta = staged.groupBy("source", "disposition").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        if stored is None:
            return delta
        return (
            stored.unionByName(delta)
            .groupBy("source", "disposition")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )

    def build(batch: DataFrame, _epoch: int) -> None:
        _merge_new_files(batch, schema, census_dir, step)

    q = (
        src.writeStream.foreachBatch(build)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _sink_exists_tree(path: str) -> bool:
    """Like _sink_exists but for a partitioned sink (batch=*/...)."""
    if not os.path.isdir(path):
        return False
    for root, _dirs, fs in os.walk(path):
        if any(f.endswith(".parquet") for f in fs):
            return True
    return False


def corpus_build_conservation(spark: SparkSession, out_root: str) -> dict:
    """Audit the cross-batch conservation identity of a
    ``run_foreach_batch_corpus_build`` output tree: every landing row of
    every manifest-listed source file is accounted for by exactly one
    census disposition, and the kept census equals the corpus row count.
    Returns the three counts plus ``holds``."""
    from pyspark.sql import functions as F

    census_dir = os.path.join(out_root, "census")
    corpus_dir = os.path.join(out_root, "corpus")
    merged = sorted(_read_manifest(census_dir))
    landing_rows = (
        spark.read.parquet(*merged).count() if merged else 0
    )
    census = spark.read.parquet(census_dir)
    census_total = census.agg(F.sum("n")).first()[0] or 0
    kept = (
        census.filter(F.col("disposition") == "kept").agg(F.sum("n")).first()[0]
        or 0
    )
    corpus_rows = (
        spark.read.parquet(corpus_dir).count()
        if _sink_exists_tree(corpus_dir)
        else 0
    )
    return {
        "landing_rows": landing_rows,
        "census_total": int(census_total),
        "census_kept": int(kept),
        "corpus_rows": corpus_rows,
        "holds": landing_rows == census_total and int(kept) == corpus_rows,
    }
