"""First-deploy Iceberg smoke test (run on a REAL cluster — the sandbox
has no Iceberg jars, so `sinks.iceberg_available` is False there and this
script refuses to run).

What it proves, end-to-end, about the `_write_routed_iceberg` branch
(sinks.py) that the sandbox can only cover with a monkeypatched test:

1. the DataFrameWriterV2 fan-out CREATES a partitioned Iceberg table
   (partition spec = batch_id, status, pattern_id);
2. `overwrite` maps to `overwritePartitions` — re-writing one batch
   REPLACES exactly that batch's partitions (the crash-resume contract)
   and row counts stay exact;
3. each write is one atomic snapshot: the table's snapshot log gains one
   entry per write, and `VERSION AS OF` time travel reads the pre-resume
   state — the "checkpoints per-partition progress to Iceberg snapshot
   metadata" half of the north_rule.

Usage (adjust versions/catalog to the cluster):

  spark-submit \
    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
    --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
    --conf spark.sql.catalog.smoke=org.apache.iceberg.spark.SparkCatalog \
    --conf spark.sql.catalog.smoke.type=hadoop \
    --conf spark.sql.catalog.smoke.warehouse=/tmp/iceberg_smoke_wh \
    --py-files alp_spark.zip \
    scripts/iceberg_smoke.py smoke.db.routed_smoke
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> int:
    table = sys.argv[1] if len(sys.argv) > 1 else "smoke.db.routed_smoke"
    spark = SparkSession.builder.appName("alp-iceberg-smoke").getOrCreate()

    from access_log_parser_spark.engine import parse_routed
    from access_log_parser_spark.pages import pages_to_lines, synth_pages
    from access_log_parser_spark.sinks import iceberg_available, write_routed

    if not iceberg_available(spark):
        print("FAIL: Iceberg runtime not on the classpath — see --packages above")
        return 2

    def routed_batch(n_pages: int):
        return parse_routed(pages_to_lines(synth_pages(spark, n_pages, 10, 5)), "s3")

    spark.sql(f"DROP TABLE IF EXISTS {table}")

    # 1) first write creates the table with the fan-out partition spec
    write_routed(
        routed_batch(100), out_dir="", mode="overwrite",
        batch_id="0", iceberg_table=table,
    )
    n0 = spark.table(table).count()
    assert n0 == 100 * 10, f"create wrote {n0} rows"
    parts = {
        f.name for f in spark.table(table).schema.fields
    }
    assert {"batch_id", "status", "pattern_id"} <= parts

    # 2) write a second batch -> new snapshot, counts additive
    write_routed(
        routed_batch(50), out_dir="", mode="overwrite",
        batch_id="1", iceberg_table=table,
    )
    assert spark.table(table).count() == 150 * 10

    snaps = spark.sql(f"SELECT * FROM {table}.snapshots").count()
    assert snaps >= 2, f"expected >=2 snapshots, saw {snaps}"

    # 3) crash-resume: re-write batch 1 (same batch_id) — dynamic
    # partition overwrite must REPLACE, not duplicate
    write_routed(
        routed_batch(50), out_dir="", mode="overwrite",
        batch_id="1", iceberg_table=table,
    )
    n_after = spark.table(table).count()
    assert n_after == 150 * 10, f"resume duplicated rows: {n_after}"
    per_batch = {
        r["batch_id"]: r["n"]
        for r in spark.table(table)
        .groupBy("batch_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_batch == {"0": 1000, "1": 500}, per_batch

    # 4) time travel to the pre-resume snapshot still shows 1500 rows
    prev = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots ORDER BY committed_at DESC"
    ).collect()[1]["snapshot_id"]
    n_prev = spark.read.option("snapshot-id", prev).table(table).count()
    assert n_prev == 150 * 10, f"time travel read {n_prev}"

    print("OK: create + snapshot-commit + dynamic-overwrite resume + time travel")
    return 0


if __name__ == "__main__":
    sys.exit(main())
