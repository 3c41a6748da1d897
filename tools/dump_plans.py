"""Dump .explain("formatted") for the headline pipelines → BENCH/PLANS.md.

The artifact reviewers read to confirm the plans are the ones the design
intends: pushed filters, pruned read schemas, broadcast hash joins on
dimension sides, whole-stage codegen over the rule projections, and no
Python eval nodes outside the explicitly vectorized UDF stages.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osmcha_spark import synth  # noqa: E402
from osmcha_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "tests", "data")


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    synth.register_synth_views(spark, sf)

    sections: list[tuple[str, str, str]] = []

    from osmcha_spark.plans.analyse import analyse

    cs = synth.changesets_df(spark, sf)
    out = analyse(
        cs,
        spark.sql(synth.actions_counts_sql(synth.SPARK)),
        spark.sql(synth.users_sql(synth.SPARK)),
    ).where(F.col("is_suspect"))
    sections.append((
        "analyse — full rule pipeline",
        "expect: one wide projection after two joins (users broadcast), "
        "no Python eval nodes, whole-stage codegen over the rule columns",
        formatted(out),
    ))

    from osmcha_spark.geo.cells import cell_col
    from osmcha_spark.operators.tiles import tile_changeset_join

    imgs = spark.read.parquet(os.path.join(FIXTURES, "images.parquet"))
    tiles = imgs.select(
        "image_id", cell_col(F.col("lon"), F.col("lat"), 7).alias("cell")
    )
    j = tile_changeset_join(
        tiles, cs.where(F.col("min_lon").isNotNull()), 7, broadcast_dim=True
    )
    sections.append((
        "tile ↔ changeset raster↔vector join",
        "expect: BroadcastHashJoin on the int64 cell, polyfill explode on "
        "the dim side, ReadSchema without the binary column",
        formatted(j),
    ))

    point = spark.read.parquet(
        os.path.join(FIXTURES, "changesets.parquet")
    ).where(F.col("id") == 31982803).select("id", "user")
    sections.append((
        "point lookup (CLI path)",
        "expect: PushedFilters with EqualTo(id, …) reaching the parquet scan",
        formatted(point),
    ))

    from osmcha_spark.operators.knn import knn_join

    pts = spark.sql(synth.points_sql(synth.SPARK))
    sections.append((
        "kNN cell-bucketed self-join",
        "expect: equi-join on cell, window top-k, no Python",
        formatted(knn_join(pts, k=3, radius=2.0)),
    ))

    from osmcha_spark.operators.events import as_of_join
    from osmcha_spark.operators.tiles import tile_pyramid

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    aj = as_of_join(
        ev.where(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        ),
        ev.where(F.col("event_type") == "purchase"),
    )
    sections.append((
        "as-of join (union-tag + single window pass)",
        "expect: Union of the two filtered scans, ONE Window over "
        "(user_id; ts, event_id, _side) — no BroadcastNestedLoopJoin, no "
        "range join, no per-row subquery",
        formatted(aj),
    ))

    pyr = tile_pyramid(pts, "lon", "lat", level=10, min_level=6)
    sections.append((
        "tile pyramid rollup (levels 10→6)",
        "expect: the raw scan feeds ONLY the level-10 HashAggregate; every "
        "coarser level reaggregates the previous level's cells via the "
        "Morton parent projection (no repeated base scans)",
        formatted(pyr),
    ))

    from osmcha_spark.operators.curation import decontaminate, pack_chunks

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    sections.append((
        "sequence packing (content-addressed chunk layout)",
        "expect: exactly ONE Exchange (hashpartitioning on shard) feeding "
        "the running-sum Window; everything else is projection — the "
        "layout is a pure function of row identity",
        formatted(pack_chunks(docs, budget=256, n_shards=8)),
    ))

    ev_set = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.expr("substring(text, 1, 240)").alias("text")
    )
    sections.append((
        "benchmark decontamination (k-gram shingle containment)",
        "expect: BroadcastHashJoin on the 60-bit shingle hash h (eval side "
        "broadcast), train shingles never shuffled — non-matching shingles "
        "die at the broadcast-hash probe",
        formatted(decontaminate(docs, ev_set, k=8, min_shared=10)),
    ))

    from osmcha_spark.operators.sketches import kmv_distinct

    toks = docs.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    sections.append((
        "KMV distinct-count sketch (per-lang token cardinality)",
        "expect: map-side-combined distinct on (lang, h), then "
        "WindowGroupLimit Partial BEFORE the per-group Exchange (second "
        "shuffle carries ≤ k rows per group per partition) and Final after",
        formatted(kmv_distinct(toks, ["lang"], "tok", k=128, bits=40)),
    ))

    from osmcha_spark.operators.sampling import priority_sample

    sections.append((
        "priority sampling (weighted top-k, DLT estimator)",
        "expect: TakeOrderedAndProject (per-partition bounded heaps) — "
        "NO Sort+rangepartitioning over the fact; the τ window runs on "
        "the k+1-row frame after the limit",
        formatted(priority_sample(docs, "doc_id", "n_chars", k=100)),
    ))

    from osmcha_spark.operators.rank import global_rank

    sections.append((
        "exact global rank / curriculum shards (two-level bucketed)",
        "expect: ONE fact-sized Exchange hashpartitioning(_bkt); the "
        "SinglePartition exchanges carry bucket-level/1-row sides only; "
        "no rangepartitioning anywhere",
        formatted(global_rank(docs, "n_chars", "doc_id", bucket_width=50,
                              n_shards=16)),
    ))

    from osmcha_spark.operators.events import scd2_history

    obs = ev.select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
    )
    sections.append((
        "SCD2 history (gaps-and-islands change-log collapse)",
        "expect: ONE Exchange hashpartitioning(user_id) — the island "
        "groupBy and both windows all cluster on (a superset of) the key",
        formatted(scd2_history(obs, "user_id", "ts_us", "event_type")),
    ))

    from osmcha_spark.operators.bloom import bloom_semi_join

    fact = ev.select("event_id", "user_id")
    dim = ev.where(F.col("user_id") % 97 == 0)
    sections.append((
        "Bloom-pruned semi-join (explicit runtime row filter)",
        "expect: three BroadcastHashJoins against the ≤ m/64-row bitmap "
        "table pruning the fact side BEFORE its exchange, then the exact "
        "LeftSemi; no nested-loop anywhere",
        formatted(bloom_semi_join(fact, dim, "user_id")),
    ))

    from osmcha_spark.geo.metrics import ring_metrics

    rings = docs.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 3 + cast(doc_id % 4 as int)), j -> "
            "struct(cast(j as long) as x, cast((doc_id + j) % 7 as long) "
            "as y))"
        ).alias("ring"),
    )
    sections.append((
        "polygon shoelace metrics (area + centroid folds)",
        "expect: pure projection — no Exchange, no Python eval, no "
        "explode; the folds stay inside whole-stage codegen",
        formatted(ring_metrics(rings, "ring")),
    ))

    from osmcha_spark.operators.graph import pagerank_step

    nodes = docs.select(F.col("doc_id").alias("node_id"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    gedges = (
        docs.join(F.broadcast(n_docs))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("j"), "__n",
        )
        .select("src",
                ((F.col("src") * 31 + F.col("j")) % F.col("__n"))
                .alias("dst"))
    )
    granks = nodes.select(
        "node_id", F.lit(1_000_000).cast("long").alias("rank_ppm")
    )
    sections.append((
        "PageRank step (integer ppm)",
        "expect: ranks⋈edges equi-join on src, map-side-combined "
        "HashAggregate on dst, left join back to nodes — no cartesian, "
        "no Python",
        formatted(pagerank_step(nodes, gedges, granks)),
    ))

    from osmcha_spark.operators.incremental import snapshot_diff

    new_snap = docs.where(F.col("doc_id") % 17 != 3)
    sections.append((
        "CDC snapshot diff (full-outer delta feed)",
        "expect: ONE shuffled full-outer SortMergeJoin on the key, "
        "status projection + filter on top — nothing else",
        formatted(snapshot_diff(
            docs, new_snap, ["doc_id"],
            ["text", "lang", "source", "n_chars"])),
    ))

    from osmcha_spark.operators.sketches import (
        countmin_build, countmin_estimate,
    )

    cm_toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    cms = countmin_build(cm_toks, "tok", d=3, w=1024)
    cm_items = docs.where(F.col("doc_id") % 101 == 0).select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    ).distinct()
    sections.append((
        "count-min sketch build + point estimates",
        "expect: grid build = one map-side-combined HashAggregate on "
        "(i, cell); estimates = BroadcastHashJoin of the probes against "
        "the ≤ d·w-row grid, then min-agg per item",
        formatted(countmin_estimate(cms, cm_items, "tok", d=3, w=1024)),
    ))

    from osmcha_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    pq_q = emb.where(F.col("vec_id") < 20)
    sections.append((
        "PQ/ADC approximate nearest neighbors",
        "expect: shuffle-free encode (1-row codebook broadcast into a "
        "pure projection), broadcast of the per-query distance tables, "
        "in-row map-lookup ADC scoring, single exchange for the top-k "
        "window — no Python eval anywhere",
        formatted(pq_topk(emb, pq_q, k=5, m=8, dim=64, centroid_stride=50)),
    ))

    from osmcha_spark.operators.dedup import prefix_jaccard_pairs

    docs10 = spark.read.parquet(
        os.path.join(sf, "documents.parquet")
    ).where(F.col("doc_id") % 10 == 0)
    sections.append((
        "Prefix-filtered all-pairs similarity join",
        "expect: vocab df agg, one group-collect per doc, prefix "
        "equi-join on token (prefixes only — no full postings), exact "
        "verify joins on doc id — no cartesian, no Python eval",
        formatted(prefix_jaccard_pairs(docs10, threshold=0.9)),
    ))

    from osmcha_spark.operators.events import concurrency_curve

    ev_iv = spark.read.parquet(os.path.join(sf, "events.parquet"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev_iv.select(
        us.alias("start_us"),
        (us + (F.round(F.col("value") * 60).cast("long") + 1)
         * 1_000_000).alias("end_us"),
    )
    sections.append((
        "Interval sweep as hierarchical prefix sum",
        "expect: one groupBy for net deltas, window partitioned by the "
        "day bucket (parallel level 1), a second window over the tiny "
        "per-bucket totals (level 2), broadcast join of offsets — the "
        "only unpartitioned sort runs on one row per bucket",
        formatted(concurrency_curve(iv)),
    ))

    from osmcha_spark.operators.graph import triangle_counts

    tri_edges = (
        spark.range(2000)
        .select(
            F.col("id").alias("s"),
            F.explode(
                F.array(
                    (F.col("id") + 1) % 2000,
                    (F.col("id") + 2) % 2000,
                    (F.col("id") * 37 + 5) % 2000,
                )
            ).alias("t"),
        )
        .where(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("a"),
                F.greatest("s", "t").alias("b"))
        .distinct()
    )
    sections.append((
        "Degree-ordered triangle counting",
        "expect: degree agg, two joins to attach degrees, the apex "
        "wedge self-join, ONE closing equi-join on (x, y), final "
        "count — all equi-joins, no cartesian",
        formatted(triangle_counts(tri_edges)),
    ))

    from osmcha_spark.operators.sketches import kmv_set_ops

    kv = spark.read.parquet(
        os.path.join(sf, "documents.parquet")
    ).select(
        (F.col("doc_id") % 4).alias("grp"),
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("j"),
        "doc_id",
    ).select(
        "grp",
        ((F.col("doc_id") * 31 + F.col("j")) % 600
         + (F.col("doc_id") % 4) * 200).alias("val"),
    )
    sections.append((
        "KMV sketch set operations",
        "expect: one distinct + windowed top-k per key builds the "
        "sketches (the only fact-sized stages); the pair join and "
        "everything after run on ≤ k rows per key; broadcast key-pair "
        "frame — no Python eval",
        formatted(kmv_set_ops(kv, "grp", "val", k=128)),
    ))

    from osmcha_spark.operators.events import funnel

    ev7 = spark.read.parquet(
        os.path.join(sf, "events.parquet")
    ).where(F.col("event_id") % 7 == 0)
    sections.append((
        "First-touch conversion funnel",
        "expect: ONE fact shuffle (groupBy user) + in-row array_sort/"
        "aggregate fold — no per-step self-join, no window cascade, "
        "no Python eval",
        formatted(funnel(ev7, steps=("view", "click", "purchase"))),
    ))

    from osmcha_spark.operators.text import banded_edit_pairs

    fz_base = F.substring(
        F.md5(F.expr("doc_id div 4").cast("string")), 1, 12
    )
    fz_pos = (F.col("doc_id") % 12 + 1).cast("int")
    fz_mut = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    fz = spark.read.parquet(
        os.path.join(sf, "documents.parquet")
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, fz_base).otherwise(
            F.concat(
                fz_base.substr(F.lit(1), fz_pos - 1), fz_mut,
                fz_base.substr(fz_pos + 1, F.lit(12) - fz_pos),
            )
        ).alias("s"),
    )
    sections.append((
        "Banded edit-distance fuzzy join",
        "expect: segment explode → equi-join on (i, seg) → distinct "
        "pairs → two id joins + JVM levenshtein verify — no cartesian, "
        "no Python eval",
        formatted(banded_edit_pairs(fz, "s", length=12, segments=3,
                                    max_dist=2)),
    ))

    from osmcha_spark.operators.skyline import skyline_2d

    sky = spark.read.parquet(
        os.path.join(sf, "events.parquet")
    ).groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .alias("value_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    sections.append((
        "2-D skyline (Pareto frontier)",
        "expect: per-x HashAggregate, window partitioned by the x-range "
        "bucket (parallel level 1), tiny per-bucket level-2 window, "
        "broadcast offsets, join back — no global single-partition sort "
        "of the fact, no Python eval",
        formatted(skyline_2d(sky, "value_cents", "n_events")),
    ))

    from osmcha_spark.operators.quantiles import order_statistics

    cents = spark.read.parquet(
        os.path.join(sf, "events.parquet")
    ).select(F.round(F.col("value") * 100).cast("long").alias("cents"))
    sections.append((
        "Exact order statistics (two-phase selection)",
        "expect: one fact HashAggregate (the histogram), a tiny "
        "unpartitioned window over non-empty buckets, broadcast "
        "locate joins, bucket-LOCAL refinement window — no global "
        "sort of the fact, no Python eval",
        formatted(order_statistics(
            cents, "cents", [250_000, 500_000, 900_000, 990_000],
            bucket=100,
        )),
    ))

    from osmcha_spark.operators.dedup_images import grid_near_dup_pairs

    gimgs = spark.read.parquet(
        os.path.join(FIXTURES, "images.parquet")
    ).select("image_id", F.col("block_means").alias("grid"))
    sections.append((
        "Visual near-dup via banded luma grids",
        "expect: explode to band keys, ONE equi-join on (band, key), "
        "distinct pairs, in-row zip_with L1 verify — no cartesian; "
        "Python-free over stored grids (the UDF recompute is the q90 "
        "gate's concern)",
        formatted(grid_near_dup_pairs(gimgs, threshold=20000)),
    ))

    from osmcha_spark.operators.knn import radius_join

    r_pts = spark.sql(synth.points_sql(synth.SPARK))
    sections.append((
        "Within-radius spatial interaction join",
        "expect: disc-bbox cell explode on the left, single-cell key on "
        "the right, ONE cell equi-join + distance filter — no "
        "cartesian, no Python eval",
        formatted(radius_join(r_pts, radius=0.05)),
    ))

    from osmcha_spark.operators.quantiles import grouped_order_statistics

    ev_cents = spark.read.parquet(
        os.path.join(sf, "events.parquet")
    ).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    sections.append((
        "Grouped exact order statistics",
        "expect: per-(group,bucket) HashAggregate, per-group cumulative "
        "window over bucket counts, broadcast locate joins, refinement "
        "window only on located (group,bucket)s — no per-group full "
        "sort, no Python eval",
        formatted(grouped_order_statistics(
            ev_cents, "event_type", "cents", [500_000, 990_000],
            bucket=100,
        )),
    ))

    from osmcha_spark.operators.similarity import ivfpq_topk

    pq_emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    pq_q = pq_emb.where(F.col("vec_id") < 20)
    sections.append((
        "Residual IVF-PQ (q101)",
        "expect: broadcast coarse-centroid join for residuals, one-row "
        "collapsed codebook broadcast into the encode projection, "
        "per-(query, probe) ADC tables broadcast onto the probe "
        "equi-join, window top-k — Python-free, no cartesian beyond "
        "1-row/codebook build sides",
        formatted(ivfpq_topk(pq_emb, pq_q, k=5, residual=True)),
    ))

    from osmcha_spark.geo.cells import cell_col, cell_ranges_for_rect
    from osmcha_spark.operators.layout import (
        scan_cell_ranges,
        write_clustered,
    )

    lay_path = "/tmp/plans_clustered_cs"
    cs_cells = spark.sql(synth.changesets_sql(synth.SPARK)).withColumn(
        "cell",
        cell_col(
            "(min_lon + max_lon) / 2", "(min_lat + max_lat) / 2",
            12,
        ),
    )
    write_clustered(cs_cells, lay_path, "cell", partitions=8)
    nyc_ranges = cell_ranges_for_rect(
        -74.3511, 40.3499, -73.6499, 41.0501, 6, 12
    )
    sections.append((
        "Z-order AOI range scan over the cluster-sorted table (q102)",
        "expect: PushedFilters with the cell-range Or chain reaching "
        "the parquet scan (file + row-group footer pruning measured in "
        "tests/test_layout.py) — the read schema pruned, no shuffle, "
        "no Python eval",
        formatted(scan_cell_ranges(spark, lay_path, "cell", nyc_ranges)),
    ))

    from osmcha_spark.operators.similarity import pq_refine_topk

    sections.append((
        "Two-stage PQ retrieval with exact refinement (q106)",
        "expect: the q79 ADC scan feeding a window-top-shortlist, then "
        "the shortlist BROADCAST into the corpus scan (broadcast hash "
        "join on neighbor_id — the original vectors are fetched, never "
        "shuffled), exact in-row zip_with L2, final window top-k — "
        "Python-free",
        formatted(pq_refine_topk(pq_emb, pq_q, k=5, shortlist=25)),
    ))

    from osmcha_spark.operators.profile import constraint_audit

    ca_orders = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    ca_cust = spark.read.parquet(os.path.join(sf, "customer.parquet"))
    sections.append((
        "Data-quality constraint audit (q107)",
        "expect: ONE fact Exchange (the groupBy(key) carrying every "
        "row-level flag as an additive partial sum), FK dim as a "
        "BroadcastHashJoin before the groupBy, a SinglePartition final "
        "agg over per-key rows only, stack projection — no Python eval",
        formatted(constraint_audit(
            ca_orders, key=["o_orderkey"],
            not_null=["o_custkey"],
            ranges={"o_totalprice": (0.0, 300000.0)},
            accepted={"o_orderstatus": ["O", "F", "P"]},
            fks=[("custkey", "o_custkey", ca_cust, "c_custkey")],
        )),
    ))

    from osmcha_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_search,
    )

    ivf_path = "/tmp/plans_ivf_index"
    import shutil as _shutil
    _shutil.rmtree(ivf_path, ignore_errors=True)
    ivf_index_build(pq_emb.where(F.col("vec_id") % 3 != 0), ivf_path,
                    centroid_stride=25)
    ivf_index_append(pq_emb.where(F.col("vec_id") % 3 == 0), ivf_path)
    sections.append((
        "Stored IVF index serve (q110)",
        "expect: the lists scan lists only the probed lists' data "
        "files (the snapshot manifest selects them before planning) — "
        "nprobe lists per query and nothing else; broadcast probes, "
        "window top-k, no Python eval",
        formatted(ivf_index_search(spark, ivf_path, pq_q, k=5, nprobe=2)),
    ))

    from osmcha_spark.operators.tiles import focal_sum

    sections.append((
        "Raster focal aggregation (q115)",
        "expect: point→cell HashAggregate with a map-side partial "
        "(the fact reduces before anything fans out), then the 3×3 "
        "Generate(explode) pair over the CELL table only, one more "
        "aggregate, and the counts⋈contrib equi-join — no Python eval, "
        "no point-table explode",
        formatted(focal_sum(r_pts, level=10)),
    ))

    docs_tbl = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    from osmcha_spark.operators.dedup import remove_shared_spans

    sections.append((
        "Substring-span removal dedup (q126)",
        "expect: NO pair enumeration anywhere — the duplicate-position "
        "set is an equi-join of shingle hashes against their map-side-"
        "combined corpus-wide partial_min, the ×k coverage Generate "
        "runs only on duplicated hits, token removal is a LeftAnti "
        "join, rebuild is a per-doc aggregate — no Python eval, no "
        "cartesian",
        formatted(remove_shared_spans(docs_tbl, k=8)),
    ))

    from osmcha_spark.operators.sampling import mix_sample

    mix_rates = docs_tbl.select("source").distinct().select(
        "source", F.lit(5000).cast("long").alias("rate_bp"))
    sections.append((
        "Deterministic domain-mix resampling (q129)",
        "expect: ZERO hash-partitioning exchanges on the fact side — "
        "membership is a pure projection of (id, salt) against the "
        "BROADCAST per-domain rates dim; content-addressed, so "
        "repartitioning/appends never flip old rows",
        formatted(mix_sample(docs_tbl, mix_rates)),
    ))

    from osmcha_spark.operators.text import bpe_pair_counts, word_freq

    sections.append((
        "BPE pair counts over the weighted vocabulary (q134)",
        "expect: one token Generate + a map-side-combined word "
        "groupBy builds the (w, f) VOCABULARY; the merge fold and "
        "pair zip are in-row Catalyst expressions (no Python eval); "
        "the final rank sorts only the distinct-pair table",
        formatted(bpe_pair_counts(
            word_freq(docs_tbl), merges=[("e", "r")], k=30)),
    ))

    from osmcha_spark.operators.text import ngram_lm_score

    sections.append((
        "quantized bigram-LM scoring (q140)",
        "expect: training counts via two map-side-combined groupBys on "
        "int64 n-gram hashes; scoring via two shuffle equi-joins "
        "(vocabulary-sized count tables — NOT blindly broadcast) + one "
        "partial-aggregated per-doc sum; the floor-log2 is pure "
        "codegen (length(bin(x))), no Python eval anywhere",
        formatted(ngram_lm_score(
            docs_tbl, docs_tbl.where(F.col("doc_id") % 2 == 1))),
    ))

    from osmcha_spark.sources import tables as TBL

    mor_dir = os.path.join("/tmp", f"plans_mor_{os.getpid()}")
    import shutil as _sh

    _sh.rmtree(mor_dir, ignore_errors=True)
    TBL.snapshot_create(
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("part"),
            (F.col("id") * 3).alias("v")),
        mor_dir, partition_col="part")
    TBL.snapshot_delete(mor_dir, "k", [5, 6, 7])
    sections.append((
        "merge-on-read snapshot read with equality deletes (q143)",
        "expect: the file→seq dim and the delete keys both BROADCAST; "
        "the subtraction is one broadcast LEFT ANTI hash join (equality "
        "conjunct builds, the seq comparison rides as the residual "
        "condition); no Python eval, no cartesian",
        formatted(TBL.read_snapshot(spark, mor_dir)),
    ))
    _sh.rmtree(mor_dir, ignore_errors=True)

    from osmcha_spark.operators.tiles import stay_points

    pings = spark.sql(
        "SELECT user_id, ts, event_id, "
        "cast(user_id as double) / 10 AS lon, "
        "cast(event_id % 90 as double) AS lat FROM events")
    sections.append((
        "grid stay-point detection (q144)",
        "expect: ONE hash exchange on the mover feeds both window "
        "passes (lag + running sum share the window spec and its "
        "sort); the (mover, seg) rollup partial-aggregates; no join, "
        "no Python eval",
        formatted(stay_points(pings, order_col="event_id")),
    ))

    from osmcha_spark.operators.tiles import (
        cell_representatives,
        hot_cold_cells,
        od_flows,
    )

    sections.append((
        "origin-destination flow matrix (q149)",
        "expect: ONE mover-hash exchange for the lag, a map-side-"
        "combined (from, to) rollup, and a dest_rank window over the "
        "aggregated matrix only — no join, no Python eval, <=3 "
        "exchanges",
        formatted(od_flows(pings, order_col="event_id")),
    ))

    mos = spark.read.parquet(os.path.join(FIXTURES, "images.parquet"))
    sections.append((
        "per-cell representative image / tile mosaic (q151)",
        "expect: the argmax is partial max over a (score, id) struct "
        "below ONE hash exchange — no window, no join, no Python eval",
        formatted(cell_representatives(mos, level=3)),
    ))

    sections.append((
        "Getis-Ord hot/cold cells (q152)",
        "expect: focal_sum's raster convolution (two map-side-combined "
        "groupBys over cells, never points) + a single-row global "
        "aggregate BROADCAST back over the surface — integer score, "
        "no Python eval, no fact-side shuffle after the surface",
        formatted(hot_cold_cells(r_pts, level=10)),
    ))

    lines = [
        "# PLANS — .explain(\"formatted\") of the headline pipelines",
        "",
        "Regenerate: `python tools/dump_plans.py` "
        "(plan properties are also pinned by tests/test_plans.py).",
        "",
        "Reading note: every `BroadcastNestedLoopJoin` below has a "
        "1-row (or one-per-bucket) build side — a broadcast scalar "
        "(corpus count, watermark, PQ codebook collapsed to one row) "
        "joined onto the fact scan, i.e. O(n·1) work. That is the "
        "lazy in-plan replacement for an eager driver-side `count()` "
        "(VERDICT r2 item 3), not an accidental cross join; no "
        "fact×fact BNLJ or CartesianProduct exists in any plan.",
        "",
    ]
    for title, expect, plan in sections:
        lines += [f"## {title}", "", f"*{expect}*", "", "```",
                  plan.rstrip(), "```", ""]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
