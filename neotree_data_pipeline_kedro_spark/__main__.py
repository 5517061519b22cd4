"""CLI: run the 14-stage engine end-to-end and write a parquet warehouse.

``python -m neotree_data_pipeline_kedro_spark --sf-dir /root/testdata/sf0.001
--out /tmp/neotree_warehouse`` — the Spark-native form of ``kedro run``
(reference cli.py:138-213): sessions in, derived tables out, one line of
row counts per stage. Sessions are synthesized deterministically from the
events table (this container has no live Postgres `public.sessions`);
point ``build_sessions`` at a real bronze table to run on actual data.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.pipeline import Engine, EngineConfig
from .session import get_spark
from .sources.tables import load_table

ADM_SCRIPT = "-SCRIPT-ADM"
DIS_SCRIPT = "-SCRIPT-DIS"

_FIELD_INFO = {
    "admissions": {
        "Gestation": {"type": "number"},
        "BirthWeight": {"type": "number"},
        "Temperature": {"type": "number"},
        "DateTimeAdmission": {"type": "datetime"},
        "NeoTreeID": {"type": "text"},
    },
    "discharges": {
        "NeoTreeOutcome": {"type": "dropdown"},
        "BWDis": {"type": "number"},
        "NeoTreeID": {"type": "text"},
    },
}


def build_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """public.sessions-shaped frame (assorted_queries.py:839-855 DDL)
    synthesized deterministically from events: even ids → admissions, odd →
    discharges, new-format entries JSON."""
    ev = load_table(spark, "events", sf_dir)
    eid = F.col("event_id").cast("string")
    uid = F.concat(F.lit("U"), F.col("user_id").cast("string"))
    gest = (F.col("event_id") % 20 + 24).cast("string")
    bw = (F.col("event_id") % 4000 + 500).cast("string")
    temp = F.round(F.col("value") * 0.2 + 34.0, 1).cast("string")
    adm = F.concat(
        F.lit('{"entries":{"NeoTreeID":{"values":{"label":["id"],"value":["'),
        uid,
        F.lit('"]}},"Gestation":{"values":{"label":["g"],"value":["'),
        gest,
        F.lit('"]}},"BW":{"values":{"label":["w"],"value":["'),
        bw,
        F.lit('"]}},"Temperature":{"values":{"label":["t"],"value":["'),
        temp,
        F.lit('"]}},"DateTimeAdmission":{"values":{"label":["d"],"value":["'),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit('"]}}}}'),
    )
    dis = F.concat(
        F.lit('{"entries":{"NeoTreeID":{"values":{"label":["id"],"value":["'),
        uid,
        F.lit('"]}},"NeoTreeOutcome":{"values":{"label":["Discharged"],'
              '"value":["DC"]}},"BWDis":{"values":{"label":["w"],"value":["'),
        bw,
        F.lit('"]}}}}'),
    )
    is_adm = F.col("event_id") % 2 == 0
    return ev.select(
        F.col("event_id").alias("id"),
        uid.alias("uid"),
        F.col("ts").alias("ingested_at"),
        F.when(is_adm, adm).otherwise(dis).alias("data"),
        F.when(is_adm, ADM_SCRIPT).otherwise(DIS_SCRIPT).alias("scriptid"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("unique_key"),
    )


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    ap = argparse.ArgumentParser(prog="neotree-spark-engine")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None, help="warehouse dir (parquet per stage)")
    ap.add_argument(
        "--bucket-uid-tables",
        type=int,
        default=0,
        metavar="N",
        help="also save the uid-keyed stages (deduplicated, admissions_fixed, "
        "discharges_fixed, merged_all) as managed tables bucketed by uid into "
        "N buckets, so every later uid join reads co-located buckets "
        "shuffle-free (sources/warehouse.py)",
    )
    ap.add_argument(
        "--compact-mb",
        type=int,
        default=0,
        metavar="MB",
        help="after the run, compact each --out stage directory into "
        "~MB-sized parquet files (sources/warehouse.compact_parquet) — the "
        "small-file maintenance an incremental warehouse needs",
    )
    ap.add_argument(
        "--compact-zorder",
        default="",
        metavar="XCOL,YCOL",
        help="with --compact-mb: Z-order-cluster compacted stages on the "
        "Morton interleave of two integer columns (functions/zorder.py) so "
        "scans filtering either column skip files; stages missing either "
        "column fall back to plain compaction",
    )
    args = ap.parse_args(argv)

    own_session = spark is None
    spark = spark or get_spark("neotree-engine-run")
    cfg = EngineConfig(
        scripts={ADM_SCRIPT: "admissions", DIS_SCRIPT: "discharges"},
        facility_map={ADM_SCRIPT: "Test Hospital", DIS_SCRIPT: "Test Hospital"},
        field_info=_FIELD_INFO,
    )

    uid_tables = {"deduplicated", "admissions_fixed", "discharges_fixed", "merged_all"}

    def materialize(name: str, df: DataFrame) -> DataFrame:
        if args.bucket_uid_tables and name in uid_tables and "uid" in df.columns:
            from .sources.warehouse import read_table, write_bucketed

            write_bucketed(
                df, f"wh_{name}", ["uid"], buckets=args.bucket_uid_tables
            )
            bucketed = read_table(spark, f"wh_{name}")
            if args.out:
                # --out promises a parquet copy per stage; the bucketed
                # managed table is the read-back source, not a replacement
                bucketed.write.mode("overwrite").parquet(f"{args.out}/{name}")
            return bucketed
        if args.out:
            path = f"{args.out}/{name}"
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)
        return df

    out = Engine(cfg, materialize=materialize).run(build_sessions(spark, args.sf_dir))
    counts = {name: df.count() for name, df in out.items()}
    if args.compact_mb and args.out:
        from .sources.warehouse import compact_parquet

        for name in out:
            import os

            stage_dir = f"{args.out}/{name}"
            if os.path.isdir(stage_dir):
                zpair = tuple(
                    c.strip() for c in args.compact_zorder.split(",") if c.strip()
                )
                has_both = len(zpair) == 2 and set(zpair) <= set(
                    out[name].columns
                )
                compact_parquet(
                    spark,
                    stage_dir,
                    target_file_mb=args.compact_mb,
                    zorder_by=zpair if has_both else None,
                )
    print(json.dumps({"stages": counts, "out": args.out}))
    if own_session:
        spark.stop()
    return counts


if __name__ == "__main__":
    main()
