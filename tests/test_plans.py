"""Physical-plan regression tests: the plan properties the 100-TB design
depends on, asserted so a refactor can't silently lose them.

Checks the executed/analyzed plan text for:
- the rule pipeline contains NO Python evaluation node (all rules are
  native Columns; the only sanctioned Python is the opt-in parity UDF),
- dimension joins broadcast (users; the polyfilled tile dim when hinted),
- point lookups push the id predicate into the parquet scan,
- column pruning reaches the scan (ReadSchema carries only what's asked).
"""

import os

from pyspark.sql import functions as F

from osmcha_spark import synth
from osmcha_spark.plans.analyse import action_counts, analyse

DATA = os.path.join(os.path.dirname(__file__), "data")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _cs(tables):
    return tables["changesets"].select(
        "id", "user", "uid", "created_at", "comments_count",
        "min_lon", "min_lat", "max_lon", "max_lat", "tags",
    )


def test_analyse_plan_has_no_python(spark, tables):
    cs, actions, users = _cs(tables), tables["actions"], tables["users"]
    out = analyse(cs, action_counts(actions), users)
    plan = _plan(out)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # parity mode IS allowed to use Python — that's its point
    parity = analyse(cs, action_counts(actions), users, parity_words=True)
    assert "ArrowEvalPython" in _plan(parity)


PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython",
                "BatchEvalPython")


def test_replication_scans_have_no_python(spark, tmp_path, replication_gz,
                                          tables):
    """The replication XML is parsed in the JVM: neither the batch scans
    nor a micro-batch of the analysed stream holds a Python node (the
    executed plan of the stream's last batch is read off the query)."""
    import shutil

    from osmcha_spark.sources.replication import (
        read_replication,
        read_replication_robust,
    )
    from osmcha_spark.streaming import (
        analysed_stream,
        read_replication_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(replication_gz, in_dir / "000001.osm.gz")
    plans = [_plan(read_replication(spark, str(in_dir))),
             _plan(read_replication_robust(spark, str(in_dir)))]
    stream = analysed_stream(read_replication_stream(spark, str(in_dir)),
                             action_counts(tables["actions"]),
                             tables["users"])
    q = (stream.writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    plans.append(
        q._jsq.streamingQuery().lastExecution().executedPlan().toString())
    for plan in plans:
        for node in PYTHON_NODES:
            assert node not in plan, plan
    assert "FileScan xml" in plans[-1], plans[-1]


def test_aoi_join_is_one_broadcast_stage(spark, tables):
    """``aoi_join`` runs as one broadcast hash join with no shuffle (the
    reference cell replaces a ``dropDuplicates``), and neither it nor
    ``filter_by_aoi``'s non-rectangle exact test evaluates Python. The
    plan is read after execution, so it is AQE's final plan."""
    from osmcha_spark.fixtures import AOI_CONCAVE
    from osmcha_spark.operators.aoi import aoi_join, filter_by_aoi

    cs = _cs(tables)
    joined = aoi_join(cs, tables["aoi"], level=8)
    filtered = filter_by_aoi(cs, AOI_CONCAVE)
    for df in (joined, filtered):
        df.collect()
        plan = _plan(df)
        for node in PYTHON_NODES:
            assert node not in plan, plan
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan, plan
    assert not [ln for ln in plan.splitlines()
                if "Exchange" in ln and "BroadcastExchange" not in ln], plan


def test_analyse_users_join_broadcasts(spark, tables):
    cs, actions, users = _cs(tables), tables["actions"], tables["users"]
    out = analyse(cs, action_counts(actions), users)
    assert "BroadcastHashJoin" in _plan(out)


def test_point_lookup_pushes_down(spark):
    cs = spark.read.parquet(os.path.join(DATA, "changesets.parquet"))
    q = cs.where(F.col("id") == 31982803).select("id", "user")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,31982803)" in plan


def test_column_pruning_reaches_scan(spark):
    images = spark.read.parquet(os.path.join(DATA, "images.parquet"))
    q = images.select("image_id", "phash")
    plan = _plan(q)
    # the scan must NOT read the heavy binary column for a 2-column query
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "bytes" not in read_schema
    assert "image_id" in read_schema and "phash" in read_schema


def test_tile_join_broadcast_hint(spark, tables):
    from osmcha_spark.operators.tiles import tile_changeset_join

    cs = _cs(tables)
    tiles = spark.range(100).select(
        F.col("id").alias("tile_id"),
        (F.col("id") % 50).cast("long").alias("cell"),
    )
    j = tile_changeset_join(
        tiles, cs.where(F.col("min_lon").isNotNull()), 7, broadcast_dim=True
    )
    assert "BroadcastHashJoin" in _plan(j)


def test_cosine_neardup_has_no_cartesian(spark):
    """VERDICT r1 item 2: neither the exact blocked path nor the
    LSH-candidates path may plan a nested-loop/cartesian product."""
    from osmcha_spark.operators.similarity import (
        cosine_near_dup_pairs,
        lsh_band_candidates,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(F.col("id") * (i + 1) % 7).cast("float") for i in range(8)]
        ).alias("embedding"),
    )
    exact = cosine_near_dup_pairs(emb, 2, 5, n_blocks=8)
    plan = _plan(exact)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    cand = lsh_band_candidates(emb, n_bands=4, bits_per_band=2, dim=8)
    verified = cosine_near_dup_pairs(emb, 2, 5, candidates=cand)
    plan = _plan(verified)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_neardup_single_exchange(spark):
    """VERDICT r1 item 7: the min-band filter replaced distinct(); the
    only shuffle left is the bucket join's."""
    from osmcha_spark.operators.dedup_images import phash_near_dup_pairs

    imgs = spark.range(100).select(
        F.col("id").alias("image_id"),
        (F.col("id") * 2654435761 % (1 << 62)).alias("phash"),
    )
    plan = _plan(phash_near_dup_pairs(imgs))
    # distinct() would add a HashAggregate pair + exchange on (a,b,hamming)
    assert "HashAggregate" not in plan


def test_knn_is_pure_column(spark):
    from osmcha_spark.operators.knn import knn_join

    pts = spark.range(50).select(
        "id",
        (F.col("id") % 10).cast("double").alias("lon"),
        (F.col("id") % 7).cast("double").alias("lat"),
    )
    plan = _plan(knn_join(pts, k=2, radius=1.0))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _jvm_calls(build) -> int:
    """Driver→JVM calls (py4j commands) this thread sends while ``build``
    runs; the py4j finalizer thread's object releases are not counted."""
    import threading

    from py4j.java_gateway import GatewayClient

    me, n = threading.get_ident(), [0]
    send = GatewayClient.send_command

    def counted(self, *a, **k):
        if threading.get_ident() == me:
            n[0] += 1
        return send(self, *a, **k)

    GatewayClient.send_command = counted
    try:
        build()
    finally:
        GatewayClient.send_command = send
    return n[0]


def test_cell_plans_build_in_few_jvm_calls(spark):
    """Cell keys are built as one SQL text each, so a plan costs tens of
    driver→JVM calls (0.3–1 ms each), not one per expression node (a
    Column-DSL ``cell_col`` took 522, ``covering_cells_col`` 887 and
    ``knn_join`` over 2,000). Counts, not timings; each is the second
    build, after the first has warmed py4j's lookups."""
    from osmcha_spark.geo.cells import cell_col, covering_cells_col
    from osmcha_spark.operators.knn import knn_join

    pts = spark.range(10).selectExpr(
        "id", "CAST(id AS DOUBLE) AS lon", "CAST(id AS DOUBLE) AS lat")
    builds = {
        "cell_col": (40, lambda: cell_col(F.col("lon"), F.col("lat"), 7)),
        "covering_cells_col": (80, lambda: covering_cells_col(
            F.col("min_lon"), F.col("min_lat"),
            F.col("max_lon"), F.col("max_lat"), 7)),
        "knn_join": (400, lambda: knn_join(pts, k=3, radius=0.01)),
    }
    for name, (limit, build) in builds.items():
        build()
        calls = _jvm_calls(build)
        assert calls <= limit, f"{name}: {calls} JVM calls > {limit}"


def test_as_of_join_plan_is_single_window(spark):
    """The as-of join must plan as union + ONE Window pass — no
    nested-loop/cartesian join and no Python eval (q42's 100 TB shape)."""
    from osmcha_spark.operators.events import as_of_join

    ev = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 5).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.when(F.col("id") % 3 == 0, "error").otherwise("purchase")
        .alias("event_type"),
        F.rand(1).alias("value"),
    )
    left = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "purchase")
    plan = _plan(as_of_join(left, right))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Window") >= 1


def test_tile_pyramid_scans_base_once(spark):
    """The rollup must read the raw table exactly once: coarser levels
    reaggregate the previous level, they don't rescan lon/lat."""
    from osmcha_spark.operators.tiles import tile_pyramid

    pts = spark.range(200).select(
        (F.col("id") % 37).cast("double").alias("lon"),
        (F.col("id") % 17).cast("double").alias("lat"),
    )
    plan = _plan(tile_pyramid(pts, "lon", "lat", level=10, min_level=7))
    # one Range source feeds the level-10 agg; the 3 coarser levels appear
    # as reaggregations, so the source-node count stays 1
    assert plan.count("Scan ExistingRDD") <= 1
    assert plan.count("* Range") <= 1 or plan.count("Range (") <= 1


def test_upsert_partitioned_scan_prunes_partitions(spark, tmp_path):
    """A literal ``isin`` on a partition column must reach the scan as a
    partition filter (PartitionFilters: part IN/EQ …) so unselected
    partitions are never read — measured: the semi-join formulation gets
    no dynamic pruning in local mode, which is why driver-side literal
    filters are the engine's pruning choice (geo/cells.py:
    cell_ranges_for_rect relies on the same static pushdown)."""
    import os

    snap = str(tmp_path / "snap")
    prior = spark.range(1000).select(
        "id", F.lit("x").alias("v"),
        F.pmod("id", F.lit(8)).cast("int").alias("part"),
    )
    prior.write.partitionBy("part").parquet(snap)
    pr = spark.read.parquet(snap)
    pruned = pr.where(F.col("part").isin([5]))
    plan = _plan(pruned)
    assert "PartitionFilters" in plan
    # the literal must reach the partition filter, not a post-scan Filter
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "5" in pf_line.split("PartitionFilters")[1].split("]")[0] + "]"


def test_interval_join_is_equi_not_nested_loop(spark):
    """The point⋈interval join must be a hash/sort-merge EQUI-join on
    the bucket — a bare BETWEEN predicate would plan the two fact sides
    as BroadcastNestedLoopJoin, the O(n·m) shape q60 exists to avoid.
    The ONE sanctioned nested-loop node is the 1-row points-bounds
    broadcast (the tfidf_topk lazy-bound pattern: single-row build side,
    one comparison per interval), so the pin is: every join line that
    touches `_bucket` is an equi-join, and at most one BNLJ exists whose
    condition only references the bounds/interval columns."""
    from osmcha_spark.operators.ranges import interval_join

    pts = spark.range(200).select(
        F.col("id").alias("event_id"), (F.col("id") * 1000).alias("ts_us")
    )
    iv = spark.range(20).select(
        F.col("id").alias("interval_id"),
        (F.col("id") * 9000).alias("start_us"),
        (F.col("id") * 9000 + 5000).alias("end_us"),
    )
    plan = _plan(interval_join(pts, iv))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the main join carries the bucket as an equi-key
    equi = [
        ln for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "HashJoin" in ln) and "_bucket" in ln
    ]
    assert equi, f"no bucket equi-join in plan:\n{plan}"
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnlj) <= 1
    # the bounds join must not involve the point side's rows
    assert all("ts_us" not in ln and "event_id" not in ln for ln in bnlj)
    # the hinted variant turns the main join into a map-side hash join
    bplan = _plan(interval_join(pts, iv, broadcast_intervals=True))
    assert any(
        "BroadcastHashJoin" in ln and "_bucket" in ln
        for ln in bplan.splitlines()
    )


def test_curation_plans_are_python_free_and_shaped(spark):
    """The curation stages' scale claims, pinned: scrub/repetition base
    are Python-free; pack_chunks shuffles exactly once (the per-shard
    window); decontaminate probes the eval side via BroadcastHashJoin."""
    from osmcha_spark.operators.curation import (
        decontaminate, pack_chunks, repetition_stats, scrub_pii,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 17).cast("string"),
                 F.lit(" a b c d e f g h i j k")).alias("text"),
    )
    for df in (scrub_pii(docs), repetition_stats(docs),
               pack_chunks(docs, budget=64, n_shards=4)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    # scrub is a pure projection: no exchange at all
    assert "Exchange" not in _plan(scrub_pii(docs))

    # pack_chunks: exactly ONE shuffle — the window's hashpartitioning
    # on shard (spark.range input has no prior exchange)
    pack_plan = _plan(pack_chunks(docs, budget=64, n_shards=4))
    exchanges = [ln for ln in pack_plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, pack_plan

    # decontaminate: eval side broadcast, join keyed on the shingle hash
    ev = docs.where(F.col("doc_id") % 10 == 0)
    dplan = _plan(decontaminate(docs, ev, k=4, min_shared=2))
    assert any("BroadcastHashJoin" in ln and "h#" in ln
               for ln in dplan.splitlines()), dplan
    assert "CartesianProduct" not in dplan


def test_priority_sample_is_take_ordered_not_global_sort(spark):
    """priority_sample's global top-k must plan as TakeOrderedAndProject
    (per-partition bounded heaps merged on the driver), NOT a full sort
    — a Sort+Exchange(rangepartitioning) over the fact table would be
    the 100-TB scale killer the operator exists to avoid. The τ window
    runs on the k+1-row frame only, after the limit."""
    from osmcha_spark.operators.sampling import priority_sample

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_chars")
    )
    out = priority_sample(docs, "doc_id", "n_chars", k=25)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = out.collect()
    assert len(rows) == 25
    # estimator: est_w = max(w, tau) >= w, and tau is the 26th priority
    assert all(r.est_w >= r.w for r in rows)


def test_global_rank_has_no_global_sort_and_is_lazy(spark):
    """global_rank's scale claims, pinned: the fact-sized shuffle is the
    bucket window's hashpartitioning(_bkt) — the plan must NOT contain a
    rangepartitioning (global sort) over the fact table, and the
    single-partition exchanges are bucket-level/1-row sides only. The
    whole thing (offsets and N included) is lazy — building the frame
    launches no job. Result equals the naive global row_number."""
    from osmcha_spark.operators.rank import global_rank
    from pyspark.sql import Window

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 400).alias("score")
    )
    sc = spark.sparkContext
    sc.setJobGroup("rank-lazy", "laziness check")
    try:
        out = global_rank(docs, "score", "doc_id", bucket_width=32,
                          n_shards=8)
        assert list(sc.statusTracker().getJobIdsForGroup("rank-lazy")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    plan = _plan(out)
    assert "rangepartitioning" not in plan, plan
    assert "hashpartitioning(_bkt" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    naive = docs.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.col("score").asc(), F.col("doc_id").asc())
        ).alias("g_rank"),
    )
    got = {(r.doc_id, r.g_rank) for r in out.select("doc_id", "g_rank").collect()}
    want = {(r.doc_id, r.g_rank) for r in naive.collect()}
    assert got == want
    shards = out.groupBy("shard").count().collect()
    assert {r.shard for r in shards} == set(range(8))
    assert all(r["count"] == 125 for r in shards)


def test_scd2_history_is_single_shuffle(spark):
    """scd2_history's scale claim, pinned: the island groupBy and both
    windows all cluster on (or by a superset of) the key, so the whole
    operator runs on ONE Exchange — hashpartitioning(key). A second
    fact-sized exchange would mean the gaps-and-islands decomposition
    stopped reusing the window's partitioning."""
    from osmcha_spark.operators.events import scd2_history

    df = spark.range(300).select(
        (F.col("id") % 11).alias("k"),
        (F.col("id") * 10).alias("ts"),
        (F.expr("id div 30") % 4).cast("string").alias("v"),
    )
    out = scd2_history(df, "k", "ts", "v")
    plan = _plan(out)
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(k#" in exchanges[0], plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # unchanged re-observations extend, not fragment: 300 rows, value
    # changes every 30 rows per 11-key stripe -> far fewer intervals
    rows = out.collect()
    assert 0 < len(rows) < 150
    # every non-final interval closes exactly where the next one opens
    by_key = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    for seq in by_key.values():
        seq.sort(key=lambda r: r.valid_from)
        for a, b in zip(seq, seq[1:]):
            assert a.valid_to == b.valid_from
        assert seq[-1].valid_to is None


def test_bloom_semi_join_probes_broadcast_then_semi(spark):
    """bloom_semi_join's scale shape, pinned: the k bitmap probes are
    BroadcastHashJoins against the ≤ m/64-row bloom table (the fact side
    never shuffles for them), the exact pass is a LeftSemi, and nothing
    degenerates to a cartesian/nested-loop. Also checks the filter
    actually prunes: with a 1-in-97 dim, probe survivors must be far
    below the fact count (no-false-negative + low-fp-rate evidence)."""
    from osmcha_spark.operators.bloom import bloom_build, bloom_semi_join

    fact = spark.range(5000).select(
        F.col("id").alias("event_id"), (F.col("id") % 991).alias("key")
    )
    dim = fact.where(F.col("key") % 97 == 0)
    out = bloom_semi_join(fact, dim, "key")
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    want = {tuple(r) for r in fact.join(dim.select("key"), "key", "leftsemi")
            .select("event_id", "key").collect()}
    got = {tuple(r) for r in out.select("event_id", "key").collect()}
    assert got == want

    # pruning power: survivors of the probe phase alone (bloom pass,
    # no exact join) should be close to the true matches, not the fact
    n_fact = fact.count()
    bloom = bloom_build(dim, "key")
    assert bloom.count() <= (1 << 16) // 64
    # empty dim -> empty result, and the plan still builds
    assert bloom_semi_join(fact, dim.where(F.lit(False)), "key").count() == 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """operators/bucketed.py's whole reason to exist, pinned: a join of
    two tables bucketed+sorted on the same key with the same bucket
    count plans with NO Exchange and NO Sort — the shuffle was paid at
    write time. A plain parquet round-trip of the same data DOES
    exchange (negative control), and each bucketed write produces at
    most one file per bucket."""
    import glob
    import os

    from osmcha_spark.operators.bucketed import bucketed_join, write_bucketed

    fact = spark.range(2000).select(
        F.col("id").alias("event_id"), (F.col("id") % 37).alias("k"),
        (F.col("id") * 3 % 101).alias("v"),
    )
    dim = fact.groupBy("k").agg(F.sum("v").alias("tv"))
    write_bucketed(fact, "t_fact", str(tmp_path / "fact"), "k", 4)
    write_bucketed(dim, "t_dim", str(tmp_path / "dim"), "k", 4)
    try:
        out = bucketed_join(spark, "t_fact", "t_dim", "k")
        plan = _plan(out)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # default: SPARK-28595 ignores the sort metadata, so a LOCAL
        # per-bucket sort remains (global flag false) — never a shuffle
        sorts = [ln for ln in plan.splitlines()
                 if "Sort [" in ln and "SortMergeJoin" not in ln]
        assert all("false, 0" in ln for ln in sorts), plan
        # with one file per bucket the legacy conf is sound: Sort-free
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        try:
            p2 = _plan(bucketed_join(spark, "t_fact", "t_dim", "k"))
            assert "Sort [" not in p2 and "Exchange" not in p2, p2
        finally:
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering",
                "false")
        # one file per bucket, not tasks x buckets
        files = glob.glob(str(tmp_path / "fact" / "part-*"))
        assert len(files) == 4, files
        # correctness: equals the plain join
        want = {tuple(r) for r in fact.join(dim, "k")
                .select("event_id", "k", "tv").collect()}
        got = {tuple(r) for r in out.select("event_id", "k", "tv").collect()}
        assert got == want
        # negative control: plain parquet round-trip exchanges
        fact.write.mode("overwrite").parquet(str(tmp_path / "plainf"))
        dim.write.mode("overwrite").parquet(str(tmp_path / "plaind"))
        pf = spark.read.parquet(str(tmp_path / "plainf"))
        pd_ = spark.read.parquet(str(tmp_path / "plaind"))
        assert "Exchange" in _plan(pf.join(pd_, "k"))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fact")
        spark.sql("DROP TABLE IF EXISTS t_dim")


def test_topk_windows_push_group_limit(spark):
    """Every rank-then-filter top-k here must keep Spark's
    WindowGroupLimit pushdown (SPARK-37099): without it the window
    sorts and ranks EVERY row per partition key before the filter
    discards all but k — at corpus scale that's the difference between
    a bounded per-group heap and a full per-group sort. Pins the
    row_number()+filter shape the optimizer recognizes."""
    from osmcha_spark.operators.knn import knn_join
    from osmcha_spark.operators.similarity import pq_topk

    pts = spark.createDataFrame(
        [(i, float(i % 7) / 10, float(i % 11) / 10) for i in range(80)],
        "id long, lon double, lat double",
    )
    assert "WindowGroupLimit" in _plan(
        knn_join(pts, k=3, radius=0.2)
    )

    emb = spark.createDataFrame(
        [(i, [float((i * j) % 5) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") < 4)
    assert "WindowGroupLimit" in _plan(
        pq_topk(emb, q, k=3, m=4, dim=8, centroid_stride=10)
    )


def test_prefix_jaccard_reuses_exchanges(spark):
    """The per-doc token subtree appears several times in the static
    plan (prefix side + both verify sides); Spark's exchange reuse must
    collapse the identical shuffles at runtime — without it the most
    expensive stage (tokenize + df-count + group-collect) runs 4×."""
    from osmcha_spark.operators.dedup import prefix_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i * 3) % 11} common the") for i in range(60)],
        "doc_id long, text string",
    )
    out = prefix_jaccard_pairs(docs, 0.6)
    out.collect()  # AQE finalizes reuse only at execution
    plan = _plan(out)
    assert "ReusedExchange" in plan


def test_ivf_index_search_prunes_to_probed_lists(spark, tmp_path):
    """ivf_index_search (q110) must scan exactly the PROBED inverted
    lists — the stored-index serving contract: the lists scan's input
    files are the manifest files of the nprobe nearest lists of the
    query (computed here in plain Python), every other list never
    touched.
    Also pins: append-then-search equals search over a from-scratch
    index built with the SAME codebook (the oracle proves this vs SQL;
    here it is pinned engine-vs-engine so a probe-layer regression
    can't hide behind an oracle edit)."""
    import math
    import os

    from osmcha_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_search,
        ivf_topk,
    )
    from osmcha_spark.sources import tables as T

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).where(F.col("vec_id") < 300)
    q = emb.where(F.col("vec_id") < 6)

    idx = str(tmp_path / "ivf")
    ivf_index_build(emb.where(F.col("vec_id") % 3 != 0), idx,
                    centroid_stride=25)
    ivf_index_append(emb.where(F.col("vec_id") % 3 == 0), idx)

    out = ivf_index_search(spark, idx, q, k=5, nprobe=2)
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def qvec(v):  # Spark's round(x * 1024): half away from zero
        return [int(math.copysign(math.floor(abs(x) * 1024 + 0.5), x))
                for x in v]

    # one query probes 2 of the 8 lists (the 6 queries probe them all)
    one = q.where(F.col("vec_id") == 1)
    cents = {r.centroid_id: r.cv for r in spark.read.parquet(
        os.path.join(idx, "centroids")).collect()}
    qv = qvec(one.first().embedding)
    d2 = sorted((sum((a - b) ** 2 for a, b in zip(qv, cv)), cid)
                for cid, cv in cents.items())
    probed = {cid for _, cid in d2[:2]}
    lists = os.path.join(idx, "lists")
    assert probed < {int(f["partition"]) for f in T.snapshot_files(lists)}
    served = ivf_index_search(spark, idx, one, k=5, nprobe=2)
    scanned = {os.path.basename(f) for f in served.inputFiles()
               if "/lists/" in f}
    assert scanned == {f["name"] for f in
                       T.snapshot_files(lists, partitions=sorted(probed))}

    # engine-vs-engine identity: a from-scratch rebuild over the FULL
    # corpus with the SAME stored codebook (explicit centroids — a bare
    # stride-25 rebuild would also pick up % 3 == 0 centroid rows and
    # shift every list) serves the identical rows. The oracle proves
    # this vs SQL; pinning it engine-vs-engine means a probe-layer
    # regression can't hide behind an oracle edit.
    stored = ivf_index_search(spark, idx, q, k=5, nprobe=2).collect()
    idx2 = str(tmp_path / "ivf_scratch")
    ivf_index_build(
        emb, idx2,
        centroids=spark.read.parquet(os.path.join(idx, "centroids")),
    )
    scratch = ivf_index_search(spark, idx2, q, k=5, nprobe=2).collect()
    key = lambda rows: {(r.query_id, r.rank): (r.neighbor_id, r.score)
                        for r in rows}
    assert key(stored) == key(scratch)


def test_constraint_audit_one_fact_exchange(spark):
    """constraint_audit (q107) plan contract: the FACT shuffles exactly
    once (the groupBy(key) hashpartitioning); the FK dim joins as a
    broadcast BEFORE that groupBy; the final reduction is a
    SinglePartition exchange over per-key rows; no Python eval. A
    second fact-sized exchange would mean a row-level check stopped
    riding the uniqueness groupBy."""
    from osmcha_spark.operators.profile import constraint_audit

    # k must be non-unique: on a provably-unique key Catalyst removes
    # the per-key aggregate outright (RemoveRedundantAggregates) and the
    # pin would be vacuous
    fact = spark.range(5000).select(
        F.pmod("id", F.lit(1000)).alias("k"),
        F.pmod("id", F.lit(97)).alias("fkv"),
        (F.col("id") % 100).cast("double").alias("price"),
    )
    dim = spark.range(90).select(F.col("id").alias("dk"))
    plan = _plan(constraint_audit(
        fact, key=["k"], not_null=["fkv"],
        ranges={"price": (0.0, 50.0)},
        fks=[("fk", "fkv", dim, "dk")],
    ))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    fact_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(k#" in ln
    ]
    assert len(fact_exchanges) == 1, plan
    assert "Exchange SinglePartition" in plan


def test_shared_spans_plan_shape(spark):
    """shared_spans (q123) plan contract: every crossing is JVM-side
    Column code (no Python eval anywhere), the candidate generator is an
    equi-join on the int64 shingle hash (never a cartesian), and the
    island/best windows ride hash partitioning on the pair key — no
    global (empty-key) sort window."""
    from osmcha_spark.operators.dedup import shared_spans

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit("w"), ((F.col("id") + i) % 17).cast("string"))
              for i in range(12)],
        ).alias("text"),
    )
    plan = _plan(shared_spans(docs, k=8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # candidate join keyed on the hash column
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    # windows partition by (doc_a, doc_b[, diag]) — no empty partition
    # spec (a global sort would serialize the whole match table)
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert specs and all("doc_a" in ln for ln in specs), plan
    # the per-pair best-span rank-1 select runs as a group limit
    # (per-partition partial top-1), not a full window sort
    assert "WindowGroupLimit" in plan


def test_remove_shared_spans_plan_shape(spark):
    """remove_shared_spans (q126) plan contract: pure Column code (no
    Python eval), no pair enumeration anywhere — the duplicate-position
    set comes from an equi-join on the int64 shingle hash against its
    map-side-combined corpus-wide min, and the ×k coverage explode runs
    only on duplicated hits; token removal is a LEFT ANTI join."""
    from osmcha_spark.operators.dedup import remove_shared_spans

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit("w"), ((F.col("id") + i) % 17).cast("string"))
              for i in range(12)],
        ).alias("text"),
    )
    plan = _plan(remove_shared_spans(docs, k=8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # min-doc lookup is an equi-join on h; removal is anti on (doc, pos)
    assert "LeftAnti" in plan, plan
    # the shingle-min agg is partial (map-side combine) before its shuffle
    assert "partial_min" in plan or "partial_first" in plan, plan


def test_semdedup_plan_shape(spark):
    """semdedup (q127) plan contract: every crossing is JVM-side Column
    code; the ONLY nested-loop join is the broadcast codebook scoring
    (tiny side by construction); candidate pairs come from an equi-join
    on centroid_id — never a global pair enumeration."""
    from osmcha_spark.operators.curation import semdedup

    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 3)) % 97).cast("float") / 97.0
              for i in range(8)]
        ).alias("embedding"),
    )
    plan = _plan(semdedup(emb, 99, 100, centroid_stride=25))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # one broadcast nested loop: the codebook crossJoin in
    # assign_to_centroids (appears once per side of the pair self-join
    # in the unexecuted plan; what must NEVER appear is a non-broadcast
    # nested loop)
    for ln in plan.splitlines():
        if "NestedLoop" in ln:
            assert "Broadcast" in ln, ln
    # the pair generator is keyed on centroid_id
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_hashed_ngram_score_plan_shape(spark):
    """hashed_ngram_score (q128) plan contract: no Python eval, the
    weight table joins as a BROADCAST, and the per-doc sum is map-side
    combined (partial agg below its exchange)."""
    from osmcha_spark.operators.text import hashed_ngram_score

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    w = spark.range(64).select(
        F.col("id").alias("bucket"), F.lit(1).alias("weight")
    )
    plan = _plan(hashed_ngram_score(docs, w, 64))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_mix_sample_plan_shape(spark):
    """mix_sample (q129) plan contract: the fact side NEVER shuffles —
    no hash-partitioning exchange anywhere, no Python eval; the rates
    dim rides a broadcast join."""
    from osmcha_spark.operators.sampling import mix_sample

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), (F.col("id") % 3).cast("string"))
        .alias("source"),
    )
    rates = spark.createDataFrame(
        [("d0", 5000), ("d1", 100)], "source string, rate_bp long"
    )
    plan = _plan(mix_sample(docs, rates))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bpe_plans_are_python_free_and_vocab_scaled(spark):
    """BPE (q134): the whole training/encoding surface is pure Column
    code — no Python eval anywhere, even with merges applied (the fold
    is a Catalyst `aggregate`); pair counting aggregates with a
    map-side partial before its one exchange; encoding (apply_bpe) is
    a zero-exchange projection."""
    from osmcha_spark.operators.text import (
        apply_bpe, bpe_pair_counts, word_freq)

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta w"),
            (F.col("id") % 23).cast("string"),
        ).alias("text"),
    )
    wf = word_freq(docs)
    plan = _plan(bpe_pair_counts(wf, merges=[("a", "l"), ("al", "p")]))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan or "partial_count" in plan, plan
    enc_plan = _plan(apply_bpe(docs, [("a", "l")]))
    assert "BatchEvalPython" not in enc_plan \
        and "ArrowEvalPython" not in enc_plan
    assert "Exchange" not in enc_plan, enc_plan


def test_ngram_lm_score_plan_shape(spark):
    """ngram_lm_score (q140) plan contract: no Python eval anywhere
    (the quantized log is pure Column arithmetic), no cartesian — the
    count tables attach by equi-join — and the per-doc sum is map-side
    combined."""
    from osmcha_spark.operators.text import ngram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "b c d")], "doc_id long, text string"
    )
    plan = _plan(ngram_lm_score(docs, docs.where(F.col("doc_id") == 1)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan, plan


def test_dsir_weights_plan_shape(spark):
    """dsir_weights (q141) plan contract: both bucket-count tables are
    BOUNDED by n_buckets so they ride broadcast joins, the quantized
    log is pure Column arithmetic (no Python eval), no cartesian
    product (the 1-row normalizer crosses as a broadcast), and the
    per-doc sum is map-side combined."""
    from osmcha_spark.operators.sampling import dsir_weights

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b d")], "doc_id long, text string"
    )
    plan = _plan(dsir_weights(docs, docs.where(F.col("doc_id") == 1),
                              docs.where(F.col("doc_id") == 2), 4096))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "partial_sum" in plan, plan


def test_mor_delete_read_plan_shape(spark, tmp_path):
    """Merge-on-read read_snapshot (q143) plan contract: the delete
    keys and the file→seq dim both ride BROADCASTS, the subtraction is
    a broadcast left-anti hash join (equality conjunct drives the
    build side, the seq comparison is the residual condition), and no
    Python eval or cartesian product appears."""
    from osmcha_spark.sources import tables as T

    path = str(tmp_path / "t")
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("part"),
        (F.col("id") * 2).alias("v"))
    T.snapshot_create(df, path, partition_col="part")
    T.snapshot_delete(path, "k", [1, 2, 3])
    plan = _plan(T.read_snapshot(spark, path))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan


def test_stay_points_plan_shape(spark):
    """stay_points (q144) plan contract: the lag and the running sum
    share ONE window partitioning (a single hash exchange on the mover
    feeds both window passes), the segment rollup partial-aggregates,
    and there's no Python eval and no join at all."""
    from datetime import datetime

    from osmcha_spark.operators.tiles import stay_points

    pings = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, 0.0, 0.0),
         (1, datetime(2024, 1, 2), 2, 0.1, 0.0)],
        "user_id long, ts timestamp, event_id long, "
        "lon double, lat double")
    plan = _plan(stay_points(pings, order_col="event_id"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan or "partial_min" in plan, plan
    # one exchange for the shared window spec, one for the rollup
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_colocation_pairs_plan_shape(spark):
    """colocation_pairs (q145) plan contract: candidate pairs come from
    an EQUI-join on the (cell, phase) bucket key — no cartesian, no
    Python eval — with the distinct (mover, bucket) aggregate
    partial-combined BELOW the join's exchange."""
    from datetime import datetime

    from osmcha_spark.operators.tiles import colocation_pairs

    pings = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 0.0, 0.0),
         (2, datetime(2024, 1, 1), 0.0, 0.0)],
        "user_id long, ts timestamp, lon double, lat double")
    plan = _plan(colocation_pairs(pings))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial" in plan, plan


def test_od_flows_plan_shape(spark):
    """od_flows (q149) plan contract: no Python eval, no join at all
    (lag replaces the ping->successor self-join), the (from, to)
    rollup partial-aggregates map-side, and at most three hash
    exchanges total (mover window, flow rollup, origin rank window —
    the rank runs on the aggregated matrix, never on pings)."""
    from datetime import datetime

    from osmcha_spark.operators.tiles import od_flows

    pings = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, 0.0, 0.0),
         (1, datetime(2024, 1, 2), 2, 0.2, 0.0)],
        "user_id long, ts timestamp, event_id long, "
        "lon double, lat double")
    plan = _plan(od_flows(pings, order_col="event_id"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_cell_representatives_plan_shape(spark):
    """cell_representatives (q151) plan contract: the argmax is ONE
    map-side-combined aggregate (partial max over the (score, id)
    struct below a single hash exchange) — no window sort, no join,
    no Python eval."""
    from osmcha_spark.operators.tiles import cell_representatives

    df = spark.createDataFrame(
        [("a", 0.0, 0.0, 1), ("b", 0.0, 0.0, 2)],
        "image_id string, lon double, lat double, sharpness_milli long")
    plan = _plan(cell_representatives(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "partial_max" in plan or "partial" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ripley_pair_counts_plan_shape(spark):
    """ripley_pair_counts (q157) plan contract: candidates come from an
    EQUI-join on the coarse bucket key — no cartesian, no
    BroadcastNestedLoopJoin, no Python eval — and the radius-ladder
    fold is a map-side-combined (partial) aggregate over candidate
    pairs."""
    from osmcha_spark.operators.tiles import ripley_pair_counts

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.01, 0.01)],
        "id long, lon double, lat double")
    plan = _plan(ripley_pair_counts(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial" in plan, plan


def test_nn_distance_counts_plan_shape(spark):
    """nn_distance_counts (q159) plan contract: equi-join candidates
    only (no cartesian/BNLJ, no Python eval) and a map-side-combined
    (partial) per-point min below the ladder fold."""
    from osmcha_spark.operators.tiles import nn_distance_counts

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.01, 0.01)],
        "id long, lon double, lat double")
    plan = _plan(nn_distance_counts(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_min" in plan or "partial" in plan, plan


def test_perceptron_step_plan_shape(spark):
    """perceptron_step (q160) plan contract: the bounded weight table
    joins BROADCAST, no cartesian/BNLJ, no Python eval, and both the
    per-doc score sum and per-bucket gradient sum partial-aggregate
    map-side."""
    from osmcha_spark.operators.text import perceptron_step

    docs = spark.createDataFrame([(1, "x y", 1)],
                                 "doc_id long, text string, label int")
    w = spark.range(16).selectExpr("id AS bucket", "id AS weight")
    plan = _plan(perceptron_step(docs, w, 16))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan or "partial" in plan, plan


def test_lpa_step_plan_shape(spark):
    """lpa_step (q162) plan contract: no window, no cartesian/BNLJ, no
    Python eval; the vote count and argmax are map-side-combined
    (partial) aggregates."""
    from osmcha_spark.operators.graph import lpa_step

    nodes = spark.createDataFrame([(1,), (2,)], "node_id long")
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    labels = nodes.selectExpr("node_id", "node_id AS label")
    plan = _plan(lpa_step(nodes, edges, labels))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "partial" in plan, plan


def test_revert_events_plan_shape(spark):
    """revert_events (q166) plan contract: no join, no Python eval, and
    all three lags share ONE window partitioning (a single hash
    exchange over the object key)."""
    from datetime import datetime

    from osmcha_spark.operators.events import revert_events

    df = spark.createDataFrame(
        [(1, 1, datetime(2024, 1, 1), 1, 0)],
        "event_id long, object_id long, ts timestamp, "
        "user_id long, state long")
    plan = _plan(revert_events(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") <= 2, plan


def test_radius_anti_join_plan_shape(spark):
    """radius_anti_join (q167) plan contract: the candidate join is an
    equi-join on the cell key, the matched-id dedup runs as a two-
    phase (map-side + final) HashAggregate, and the final step is a
    LeftAnti — no cartesian, no Python eval."""
    from osmcha_spark.operators.knn import radius_anti_join

    pts = spark.createDataFrame([(1, 0.0, 0.0)],
                                "id long, lon double, lat double")
    pois = spark.createDataFrame([(2, 1.0, 1.0)],
                                 "id long, lon double, lat double")
    plan = _plan(radius_anti_join(pts, pois, radius=1.0))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_pmi_collocations_plan_shape(spark):
    """pmi_collocations (q184) plan contract: pure Catalyst (no Python
    eval), the total is a broadcast (one BroadcastExchange), the
    marginal joins are hash equi-joins (no cartesian beyond the one-row
    broadcast product), and both count rollups run map-side combined
    (>= 4 HashAggregates: partial+final for pairs and unigrams)."""
    from osmcha_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame([(0, "a b a")], "doc_id long, text string")
    plan = _plan(pmi_collocations(docs, min_pair=2))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_distinctive_terms_plan_shape(spark):
    """distinctive_terms (q185) plan contract: no Python eval, no
    cartesian beyond the one-row total broadcast, marginals as
    map-side-combined HashAggregates over the (cell, tok) rollup, and
    the per-cell top-k as a Window (with the rnk <= k filter pushed
    as WindowGroupLimit where the runtime supports it)."""
    from osmcha_spark.operators.tiles import distinctive_terms

    docs = spark.createDataFrame([(0.0, 0.0, "a b a")],
                                 "lon double, lat double, text string")
    plan = _plan(distinctive_terms(docs, level=5, k=3, min_count=2,
                                   text_col="text"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "Window" in plan, plan
    assert plan.count("HashAggregate") >= 6, plan


def test_snap_to_segments_plan_shape(spark):
    """snap_to_segments (q186) plan contract: ONE equi-join on the
    bucket key (no cartesian, no nested-loop), the 9x offset explode
    on the segment side only, the per-point argmin as a two-phase
    HashAggregate (map-side combined min(struct)), and zero Python
    eval nodes."""
    from osmcha_spark.operators.tiles import snap_to_segments

    pts = spark.createDataFrame([(1, 0, 0)], "pid long, x long, y long")
    segs = spark.createDataFrame(
        [(1, 1, 0, 0, 10, 0)],
        "u long, o long, x1 long, y1 long, x2 long, y2 long")
    plan = _plan(snap_to_segments(pts, segs, radius=100, bucket=500))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate" in plan, plan  # the 9x explode, segment side
    # min(struct(...)) plans as a two-phase SORT aggregate (struct
    # ordering is sort-based, not hash-based) — partial + final
    assert "partial_min(struct" in plan, plan
    assert plan.count("SortAggregate") + plan.count("HashAggregate") \
        >= 2, plan
