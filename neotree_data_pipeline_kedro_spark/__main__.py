"""CLI: one cron invocation of the Neotree ETL.

``python -m neotree_data_pipeline_kedro_spark --landing 'exports/*.json'
--out /data/neotree --config conf/engine.json`` — the Spark-native form of
``kedro run`` (reference cli.py:138-213): the session exports in, the
derived schema out. ``--config`` is a JSON object of ``EngineConfig``'s
fields (the reference's ``conf/``). Under ``--out`` the run writes

- ``warehouse/<stage>``: every Engine stage as parquet. The run writes
  all of them beside the live warehouse and publishes them as a whole
  once every stage is written, so a run that fails part-way leaves the
  last published warehouse as it was;
- ``bronze_sink``: the deduplicated sessions whose (uid, scriptid) it does
  not hold yet, appended;
- ``rollup`` (checkpoint ``rollup_ckpt``): sink rows per facility and
  month, merged once per sink file.

Prints one JSON line with the rows of each stage and the rows appended
to the sink.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .plans.pipeline import Engine, EngineConfig
from .session import get_spark
from .sources.sessions import read_session_files
from .sources.warehouse import _publish_swap, _recover_swap, _swap_paths
from .streaming.incremental import incremental_sink, run_foreach_batch_rollup


def run_cron(
    spark: SparkSession, landing_glob: str, out_dir: str, config: EngineConfig
) -> dict[str, int]:
    """Run the product pass over the export files matching
    ``landing_glob`` into ``out_dir``: ``read_session_files`` ->
    ``Engine.run`` with every stage written to the warehouse -> bronze sink
    append -> facility x month rollup over the sink. Returns the rows of
    every stage plus ``bronze_sink``, the rows appended this run. If a
    stage raises, nothing is published and the sink is not touched."""
    live = os.path.join(out_dir, "warehouse")
    _recover_swap(live)
    staged = _swap_paths(live)[0]
    rows: dict[str, int] = {}

    def materialize(name: str, df: DataFrame) -> DataFrame:
        # Called from the Engine's stage threads. The row count rides the
        # write job, and the read-back declares the schema just written,
        # so neither costs a job of its own.
        path = os.path.join(staged, name)
        seen = Observation()
        df.observe(seen, F.count(F.lit(1)).alias("rows")).write.parquet(path)
        rows[name] = seen.get["rows"]
        return spark.read.schema(df.schema).parquet(path)

    out = Engine(config, materialize=materialize).run(
        read_session_files(spark, landing_glob)
    )
    _publish_swap(live)
    dedup = spark.read.schema(out["deduplicated"].schema).parquet(
        os.path.join(live, "deduplicated")
    )
    sink = os.path.join(out_dir, "bronze_sink")
    appended = incremental_sink(spark, dedup, sink, ["uid", "scriptid"])
    run_foreach_batch_rollup(
        spark, sink, dedup.schema, os.path.join(out_dir, "rollup"),
        os.path.join(out_dir, "rollup_ckpt"), ["facility", "month"],
        {"uid": "count"}, max_files_per_trigger=None,
        transform=lambda d: d.withColumn(
            "month", F.date_trunc("month", F.col("ingested_at"))),
    )
    return {**{name: rows[name] for name in out}, "bronze_sink": appended}


def main(
    argv: list[str] | None = None, spark: SparkSession | None = None
) -> dict[str, int]:
    ap = argparse.ArgumentParser(prog="neotree-spark-engine")
    ap.add_argument("--landing", required=True, metavar="GLOB",
                    help="session export files, e.g. 'exports/*.json'")
    ap.add_argument("--out", required=True, metavar="DIR",
                    help="holds warehouse/, bronze_sink/, rollup/ and rollup_ckpt/")
    ap.add_argument("--config", required=True, metavar="FILE",
                    help="JSON object of EngineConfig's fields")
    args = ap.parse_args(argv)
    with open(args.config, encoding="utf-8") as fh:
        config = EngineConfig(**json.load(fh))

    own_session = spark is None
    spark = spark or get_spark("neotree-engine-run")
    try:
        rows = run_cron(spark, args.landing, args.out, config)
    finally:
        if own_session:
            spark.stop()
    print(json.dumps({"rows": rows, "out": args.out}))
    return rows


if __name__ == "__main__":
    main()
