"""spark-submit entry point #6: the minutely-replication merge operated
on the SNAPSHOT TABLE format (sources/tables.py) — every run is one
ATOMIC, REPLAYABLE commit, every prior state stays time-travelable, and
maintenance (compaction + snapshot expiry) runs in the same job.

    python tools/make_pyfiles_zip.py dist/osmcha_spark.zip
    spark-submit --master local[8] \
        --py-files dist/osmcha_spark.zip \
        tools/job_snapshot_pipeline.py \
        --replication-dir tests/data \
        --aux-dir tests/data --table /tmp/verdicts_tbl \
        --keep-snapshots 3

The commit protocol is the operational story —

    1. scan the replication batch (S1: gzip-XML → rows) and run the
       full suspicion analysis (P2-P12, A1-A4) against the
       action-count and user dims,
    2. commit as snapshot N via copy-on-write upsert: untouched
       partitions are carried into the new manifest BY FILE REFERENCE
       (zero read, zero write); the commit_id is a fingerprint of the
       batch files, so a re-run of a crashed/duplicated job finds its
       manifest and moves the table only by fast-forward (the first
       run's in-line compaction stays current) — exactly-once per
       batch, no sentinel files, no cleanup scripts,
    3. maintenance in-line: bin-pack fragmented partitions
       (self-stabilizing small-file guard) and expire all but the
       newest --keep-snapshots manifests, vacuuming unreferenced files
       — bounded storage at a minutely cadence,
    4. report the commit lineage: snapshot id, rows, files written vs
       carried — the per-partition lineage+metrics contract of the
       north rule, read straight off the manifests.

Readers meanwhile pin whatever snapshot they opened (no torn reads
during any of this) and backfills time-travel to any retained id.
Imports resolve ONLY from the shipped zip (no repo on sys.path).
"""

from __future__ import annotations

import argparse
import hashlib
import glob
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 8


def _batch_fingerprint(path: str) -> str:
    """Content-addressed commit id for the batch: the file list + sizes
    (stable across re-runs of the same batch, distinct across batches)."""
    names = sorted(
        (os.path.basename(p), os.path.getsize(p))
        for p in glob.glob(path)
    )
    digest = hashlib.md5(repr(names).encode()).hexdigest()[:16]
    return f"replication-{digest}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replication-dir", required=True,
                    help="dir (or file) of *.osm.gz replication batches")
    ap.add_argument("--aux-dir", required=True,
                    help="dir holding actions.parquet + users.parquet dims")
    ap.add_argument("--table", required=True,
                    help="snapshot-table path (created on first run, "
                         "committed into afterwards)")
    ap.add_argument("--keep-snapshots", type=int, default=3,
                    help="manifests retained by expiry, at least 1 "
                         "(current always survives)")
    ap.add_argument("--target-file-bytes", type=int,
                    default=128 * 1024 * 1024,
                    help="compaction bin size")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("osmcha-snapshot-merge")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from osmcha_spark.plans.analyse import action_counts, analyse
    from osmcha_spark.sources import tables as T
    from osmcha_spark.sources.replication import read_replication

    path = args.replication_dir
    if os.path.isdir(path):
        path = os.path.join(path, "*.osm.gz")
    commit_id = _batch_fingerprint(path)

    cs = read_replication(spark, path)
    actions = spark.read.parquet(os.path.join(args.aux_dir, "actions.parquet"))
    users = spark.read.parquet(os.path.join(args.aux_dir, "users.parquet"))
    verdicts = analyse(cs, action_counts(actions), users).withColumn(
        "bucket", F.pmod(F.col("id"), F.lit(N_BUCKETS)).cast("int")
    )

    prev = T.current_snapshot(args.table)
    known = set(T.list_snapshots(args.table))
    if prev is None:
        sid = T.snapshot_create(verdicts, args.table,
                                partition_col="bucket",
                                commit_id=commit_id)
        bootstrap, carried = True, 0
    else:
        before = {f["name"] for f in
                  T.snapshot_files(args.table, prev)}
        sid = T.snapshot_upsert(verdicts, args.table, key="id",
                                commit_id=commit_id)
        after = T.snapshot_files(args.table, sid)
        carried = sum(1 for f in after if f["name"] in before)
        bootstrap = False
    replayed = sid in known  # the commit_id found its manifest

    compacted = T.snapshot_compact(
        spark, args.table, target_bytes=args.target_file_bytes)
    expired = T.expire_snapshots(args.table,
                                 keep_last=args.keep_snapshots)

    files = T.snapshot_files(args.table)
    snap = T.read_snapshot(spark, args.table)
    summary = {
        "commit_id": commit_id,
        "snapshot": T.current_snapshot(args.table),
        "replayed": replayed,
        "bootstrap": bootstrap,
        "batch_rows": cs.count(),
        "snapshot_rows": snap.count(),
        "snapshot_suspect": snap.where(F.col("is_suspect")).count(),
        "files": len(files),
        "files_carried_by_reference": carried,
        "compacted_to": compacted,
        "expired_snapshots": expired,
        "retained_snapshots": T.list_snapshots(args.table),
    }
    print("JOB_RESULT " + json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
