"""spark-submit entry point #4: the ANN index lifecycle as a cluster job
— build the stored IVF index, fold an append batch into it with bounded
list rewrites, then serve a query batch from the maintained index.

    python tools/make_pyfiles_zip.py dist/osmcha_spark.zip
    spark-submit --master local[8] \
        --py-files dist/osmcha_spark.zip \
        tools/job_ann_pipeline.py \
        --embeddings /root/testdata/sf0.01/embeddings.parquet \
        --index /tmp/ivf_index --k 5 --nprobe 2

Flow (R75, the q110 composition run the way a cluster would):

    1. bootstrap: build inverted lists (a centroid_id-partitioned
       snapshot table) + the immutable codebook from the initial
       corpus slice,
    2. append: assign the new batch against the STORED quantizer and
       upsert — one commit that rewrites only the lists receiving
       vectors,
    3. serve: probe-pruned top-k for the query batch (the lists
       table's manifest selects only the probed lists' files).

At 10^12 vectors step 2 is the minutely operating cost (a handful of
list partitions) and step 3 reads nprobe lists per query — neither ever
touches the whole index. Imports resolve ONLY from the shipped zip.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--embeddings", required=True,
                    help="parquet of (vec_id, embedding array<float>)")
    ap.add_argument("--index", required=True,
                    help="index root (created on first run; appended "
                         "into afterwards)")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--nprobe", type=int, default=2)
    ap.add_argument("--stride", type=int, default=25)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("osmcha-ann-pipeline").getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from osmcha_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_search,
    )
    from osmcha_spark.sources import tables as T

    emb = spark.read.parquet(args.embeddings)
    lists_dir = os.path.join(args.index, "lists")
    bootstrap = T.current_snapshot(lists_dir) is None
    if bootstrap:
        # bootstrap slice + append batch: the same split q110 gates
        ivf_index_build(
            emb.where(F.col("vec_id") % 3 != 0), args.index,
            centroid_stride=args.stride,
        )
        ivf_index_append(emb.where(F.col("vec_id") % 3 == 0), args.index)
    else:
        ivf_index_append(emb, args.index)

    queries = emb.where(F.col("vec_id") < 20)
    served = ivf_index_search(
        spark, args.index, queries, k=args.k, nprobe=args.nprobe
    )
    n_lists = len({f["partition"] for f in T.snapshot_files(lists_dir)})
    summary = {
        "bootstrap": bootstrap,
        "index_rows": T.read_snapshot(spark, lists_dir).count(),
        "n_lists": n_lists,
        "served_rows": served.count(),
        "k": args.k,
        "nprobe": args.nprobe,
    }
    print("JOB_RESULT " + json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
