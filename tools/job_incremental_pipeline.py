"""spark-submit entry point #3: the minutely-replication MERGE as a
cluster job — replication batch in, partitioned analysed snapshot
updated in place, only touched partitions rewritten.

    python tools/make_pyfiles_zip.py dist/osmcha_spark.zip
    spark-submit --master local[8] \
        --py-files dist/osmcha_spark.zip \
        tools/job_incremental_pipeline.py \
        --replication-dir tests/data \
        --aux-dir tests/data --snapshot /tmp/snap1

Flow (the reference's real update pattern — changesets are re-fetched
and re-scored as they are edited, osmcha-django overwrites the stored
verdict row — expressed at table scale):

    1. scan the replication batch (S1: gzip-XML → rows),
    2. run the full suspicion analysis (P2-P12, A1-A4) against the
       action-count and user dims,
    3. partition the 17-field verdicts by an id-hash bucket and MERGE
       them into the snapshot with dynamic partition overwrite
       (operators/incremental.py:upsert_partitioned) — first run
       bootstraps the snapshot, every later run rewrites ONLY the
       buckets its batch touches.

At 10^12 rows the snapshot is the big table and the batch is minutes of
edits: the bounded rewrite IS the operating cost of the pipeline.
Imports resolve ONLY from the shipped zip (no repo on sys.path).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 8


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replication-dir", required=True,
                    help="dir (or file) of *.osm.gz replication batches")
    ap.add_argument("--aux-dir", required=True,
                    help="dir holding actions.parquet + users.parquet dims")
    ap.add_argument("--snapshot", required=True,
                    help="partitioned parquet snapshot path (created on "
                         "first run, merged into afterwards)")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("osmcha-incremental-merge")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from osmcha_spark.operators.incremental import upsert_partitioned
    from osmcha_spark.plans.analyse import action_counts, analyse
    from osmcha_spark.sources.replication import read_replication

    path = args.replication_dir
    if os.path.isdir(path):
        path = os.path.join(path, "*.osm.gz")
    cs = read_replication(spark, path)
    actions = spark.read.parquet(os.path.join(args.aux_dir, "actions.parquet"))
    users = spark.read.parquet(os.path.join(args.aux_dir, "users.parquet"))

    verdicts = analyse(cs, action_counts(actions), users).withColumn(
        "bucket", F.pmod(F.col("id"), F.lit(N_BUCKETS)).cast("int")
    )

    bootstrap = not os.path.exists(os.path.join(args.snapshot, "_SUCCESS"))
    if bootstrap:
        verdicts.write.partitionBy("bucket").parquet(args.snapshot)
        touched = N_BUCKETS
    else:
        touched = verdicts.select("bucket").distinct().count()
        upsert_partitioned(
            verdicts, args.snapshot, key="id", partition_col="bucket"
        )

    snap = spark.read.parquet(args.snapshot)
    summary = {
        "batch_rows": cs.count(),
        "snapshot_rows": snap.count(),
        "snapshot_suspect": snap.where(F.col("is_suspect")).count(),
        "bootstrap": bootstrap,
        "touched_buckets": touched,
        "n_buckets": N_BUCKETS,
    }
    print("JOB_RESULT " + json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
