"""Streaming replication source tests (SURVEY.md §2.8).

Golden semantics from the reference's replication-cursor model
(tests/state.yaml: resume after last processed sequence number): a file is
consumed exactly once across restarts; new files since the cursor are
picked up; analysis of a streamed batch equals the batch path.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F



def _drain(q):
    q.awaitTermination()


@pytest.fixture()
def stream_dirs(tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    return str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_stream_consumes_each_file_once(spark, stream_dirs, replication_gz):
    from osmcha_spark.streaming import (
        read_replication_stream,
        run_replication_stream,
    )

    in_dir, out_dir, ckpt = stream_dirs
    shutil.copy(replication_gz, os.path.join(in_dir, "000001.osm.gz"))

    def run_once():
        cs = read_replication_stream(spark, in_dir)
        _drain(run_replication_stream(cs, out_dir, ckpt))

    run_once()
    assert spark.read.parquet(out_dir).count() == 25

    # Restart with the same checkpoint: cursor says "already consumed".
    run_once()
    assert spark.read.parquet(out_dir).count() == 25

    # New replication file arrives → exactly its rows are appended.
    shutil.copy(replication_gz, os.path.join(in_dir, "000002.osm.gz"))
    run_once()
    assert spark.read.parquet(out_dir).count() == 50


def test_stream_batch_dedup_on_id(spark, stream_dirs, replication_gz):
    from osmcha_spark.streaming import (
        read_replication_stream,
        run_replication_stream,
    )

    in_dir, out_dir, ckpt = stream_dirs
    # Two copies of the same minute in ONE micro-batch → replayed ids
    # dropped within the batch.
    shutil.copy(replication_gz, os.path.join(in_dir, "000001.osm.gz"))
    shutil.copy(replication_gz, os.path.join(in_dir, "000002.osm.gz"))
    cs = read_replication_stream(spark, in_dir)
    _drain(run_replication_stream(cs, out_dir, ckpt))
    out = spark.read.parquet(out_dir)
    assert out.count() == 25
    assert out.select("id").distinct().count() == 25


def test_stream_drain_fails_on_truncated_file(spark, stream_dirs,
                                              replication_gz):
    """A truncated ``.osm.gz`` fails the micro-batch that reads it (the
    strict reader), so a drain never commits a partial minute. The
    benchmark's self-test counts on this failure."""
    from pyspark.errors import StreamingQueryException

    from osmcha_spark.streaming import (
        read_replication_stream,
        run_replication_stream,
    )

    in_dir, out_dir, ckpt = stream_dirs
    with open(replication_gz, "rb") as fh:
        data = fh.read()
    with open(os.path.join(in_dir, "000001.osm.gz"), "wb") as fh:
        fh.write(data[: len(data) // 2])
    q = run_replication_stream(read_replication_stream(spark, in_dir),
                               out_dir, ckpt)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert not os.path.exists(out_dir)


def test_streamed_analysis_equals_batch(
        spark, stream_dirs, tables, replication_gz):
    from osmcha_spark.plans.analyse import action_counts, analyse
    from osmcha_spark.sources.replication import read_replication
    from osmcha_spark.streaming import (
        analysed_stream,
        read_replication_stream,
        run_replication_stream,
    )

    in_dir, out_dir, ckpt = stream_dirs
    shutil.copy(replication_gz, os.path.join(in_dir, "000001.osm.gz"))

    counts = action_counts(tables["actions"])
    stream = analysed_stream(
        read_replication_stream(spark, in_dir), counts, tables["users"]
    )
    _drain(run_replication_stream(stream, out_dir, ckpt))

    got = {
        (r.id, r.is_suspect, tuple(sorted(r.suspicion_reasons)))
        for r in spark.read.parquet(out_dir)
        .select("id", "is_suspect", "suspicion_reasons")
        .collect()
    }
    want = {
        (r.id, r.is_suspect, tuple(sorted(r.suspicion_reasons)))
        for r in analyse(
            read_replication(spark, replication_gz), counts, tables["users"]
        )
        .select("id", "is_suspect", "suspicion_reasons")
        .collect()
    }
    assert got == want and len(got) == 25


def test_fetch_replication_file_url(tmp_path, spark, replication_gz):
    """S2 driver-side download (osmcha/changeset.py:220-228 parity):
    sequence → padded URL path → urlretrieve → local file that the
    distributed scan then reads. Exercised against a file:// mirror of
    the reference fixture."""
    from osmcha_spark.sources.replication import (
        fetch_replication,
        read_replication,
        replication_url,
    )

    assert replication_url(2703456, "https://x/r").endswith(
        "/r/002/703/456.osm.gz"
    )

    mirror = tmp_path / "mirror" / "000" / "000"
    mirror.mkdir(parents=True)
    import shutil

    shutil.copy(replication_gz, mirror / "245.osm.gz")
    dest = tmp_path / "dl"
    paths = fetch_replication(
        (245, 245), str(dest), base=f"file://{tmp_path}/mirror"
    )
    assert paths == [str(dest / "000000245.osm.gz")]
    assert read_replication(spark, str(dest)).count() == 25


def test_stateful_user_stats_accumulate_across_restarts(
        spark, stream_dirs, replication_gz):
    """applyInPandasWithState operator (engine-only §2.8 extension): the
    per-uid running totals live in the state store, checkpointed with the
    query — a restart RESUMES the totals, so replaying the same minute as
    a new file doubles every count instead of resetting it."""
    from osmcha_spark.sources.replication import read_replication
    from osmcha_spark.streaming import (
        read_replication_stream,
        user_stats_stream,
    )

    in_dir, _out, ckpt = stream_dirs
    shutil.copy(replication_gz, os.path.join(in_dir, "000001.osm.gz"))

    batch_counts = {
        r["uid"]: r["n"]
        for r in read_replication(spark, in_dir)
        .groupBy("uid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(batch_counts.values()) == 25

    def run(name):
        # foreachBatch: the one update-mode sink that also supports
        # checkpoint RECOVERY (the memory sink does not)
        rows = []
        stats = user_stats_stream(read_replication_stream(spark, in_dir))
        q = (
            stats.writeStream.foreachBatch(
                lambda df, epoch: rows.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["uid"]: r for r in rows}

    got1 = run("user_stats_run1")
    assert {u: r["changesets_count"] for u, r in got1.items()} == batch_counts
    assert all(r["is_new_mapper"] == (r["changesets_count"] <= 50)
               for r in got1.values())
    assert all(r["first_seen"] is not None for r in got1.values())

    # same minute replayed as a NEW file → state resumes, totals double
    shutil.copy(replication_gz, os.path.join(in_dir, "000002.osm.gz"))
    got2 = run("user_stats_run2")
    assert {u: r["changesets_count"] for u, r in got2.items()} == {
        u: 2 * n for u, n in batch_counts.items()
    }
    # first_seen is stable across the replay
    assert {u: r["first_seen"] for u, r in got2.items()} == {
        u: got1[u]["first_seen"] for u in got1
    }


def test_streaming_sessions_equal_batch(spark, tmp_path):
    """Streamed session_window (sentinel-closed, append mode) emits
    exactly the batch sessionize result — the q45 equivalence at test
    scale, including a session that ends exactly at the last real event."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from osmcha_spark.operators.events import sessionize
    from osmcha_spark.streaming import run_session_stream, sessionized_stream

    base = 1_700_000_000
    rows = [
        (1, 10, base, 2.0), (2, 10, base + 120, 1.0),      # session A
        (3, 10, base + 2000, 1.5),                          # session B
        (4, 11, base + 50, 3.0), (5, 11, base + 2049, 0.5), # two sessions
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, tsec long, value double"
    ).select(
        "event_id", F.timestamp_seconds("tsec").alias("ts"),
        "user_id", "value",
    )
    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)

    def one_file(df, name, mtime):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(in_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))
        return dest

    one_file(ev, "b1.parquet", base)
    sentinel = spark.createDataFrame(
        [(-1, base + 10 * 86400, 10, 0.0), (-1, base + 10 * 86400, 11, 0.0)],
        "event_id long, tsec long, user_id long, value double",
    ).select(
        "event_id", F.timestamp_seconds("tsec").alias("ts"),
        "user_id", "value",
    )
    one_file(sentinel, "b2.parquet", base + 100)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out_dir = str(tmp_path / "out")
    q = run_session_stream(
        sessionized_stream(stream), out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    got = {
        (r["user_id"], r["session_start"], r["n_events"], r["value_cents"])
        for r in spark.read.parquet(out_dir).collect()
        if r["session_start"].year < 2030  # sentinels never emit; belt+braces
    }
    want = {
        (r["user_id"], r["session_start"], r["n_events"], r["value_cents"])
        for r in sessionize(ev).collect()
    }
    assert got == want and len(want) == 4


def test_osm_server_url_env_override(monkeypatch):
    """Reference parity (osmcha/changeset.py:34-38): OSM_SERVER_URL
    redirects the endpoint; replication files resolve under
    $OSM_SERVER_URL/replication/changesets. Unset → the public planet
    endpoint."""
    from osmcha_spark.sources.replication import (
        OSM_REPLICATION_BASE,
        replication_base,
        replication_url,
    )

    monkeypatch.delenv("OSM_SERVER_URL", raising=False)
    assert replication_base() == OSM_REPLICATION_BASE
    monkeypatch.setenv("OSM_SERVER_URL", "https://mirror.example/")
    assert replication_base() == (
        "https://mirror.example/replication/changesets"
    )
    assert replication_url(245) == (
        "https://mirror.example/replication/changesets/000/000/245.osm.gz"
    )
    # explicit base still wins over the env var
    assert replication_url(245, "file:///m").startswith("file:///m/000/")


def test_session_stream_late_data_boundary(spark, tmp_path):
    """Pins Spark's late-data semantics for streaming session windows
    (measured on this build; the q59 oracle encodes exactly this):

    - the LATE-EVENT filter uses the watermark lagged ONE batch behind
      the eviction watermark (plan shows both: `Append, <late>, <evict>`),
      so a late row arriving in the very next micro-batch after the
      high-watermark event is still accepted;
    - once the late watermark is in effect, an input row is dropped iff
      its would-be session END (ts + gap) <= watermark — the boundary
      row with end == wm is DROPPED, end == wm+1s survives.
    """
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from osmcha_spark.streaming import run_session_stream, sessionized_stream

    work = str(tmp_path / "w")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)

    def one_file(rows, name, mt):
        df = spark.createDataFrame(
            rows, "event_id long, tsec long, user_id long, value double"
        ).select(
            "event_id", F.timestamp_seconds("tsec").alias("ts"),
            "user_id", "value",
        )
        tmp = os.path.join(work, "stage_" + name)
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(in_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (mt, mt))

    t0 = time.time()
    base = 1_700_000_000
    # b1: max ts base+600; delay 120s => wm = base+480. gap 60s.
    one_file([(1, base, 1, 1.0), (2, base + 600, 1, 1.0)], "b1.parquet", t0)
    # b2: arrives ONE batch after the high event — late filter still at 0,
    # so even an ancient row is accepted (the one-batch lag)
    one_file([(10, base - 50000, 50, 1.0)], "b2.parquet", t0 + 10)
    # b3: late filter now wm=base+480; session end = ts+60 vs wm:
    #   u3 end 479 < wm -> drop, u4 end 480 == wm -> drop,
    #   u5 end 481 > wm -> keep
    one_file(
        [(4, base + 419, 3, 1.0), (5, base + 420, 4, 1.0),
         (6, base + 421, 5, 1.0)],
        "b3.parquet", t0 + 20,
    )
    one_file([(9, base + 999_999, 99, 0.0)], "b4.parquet", t0 + 30)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = run_session_stream(
        sessionized_stream(stream, gap="1 minutes", delay="120 seconds"),
        os.path.join(work, "out"),
        os.path.join(work, "ckpt"),
    )
    q.awaitTermination()
    got = sorted(
        r["user_id"]
        for r in spark.read.parquet(os.path.join(work, "out")).collect()
    )
    # user 1: two sessions; 50 accepted via the one-batch lag; 5 via the
    # strict > boundary; 3 and 4 dropped; 99 (sentinel) never closes
    assert got == [1, 1, 5, 50], got


def test_dedup_stream_boundary(spark, tmp_path):
    """Pins streaming dropDuplicates semantics for streaming/dedup.py
    (measured on this build; the q73 oracle encodes exactly this):

    - the late filter drops ts <= wm and keeps ts > wm (wm = max seen
      event time at the end of the PREVIOUS batch, minus the delay);
    - an exact replay while the original row's state is live is dropped
      as a duplicate; a replay after eviction is ts <= wm, dropped late;
    - in-batch exact duplicates collapse to one emission.
    """
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from osmcha_spark.streaming import deduped_stream, run_dedup_stream

    T0 = 1_700_000_000_000_000
    HOUR = 3600 * 1_000_000
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base = time.time()

    def mk(rows):
        return spark.createDataFrame(rows, "k long, ts_us long").select(
            "k", F.timestamp_micros(F.col("ts_us")).alias("ts")
        )

    def one_file(df, name, bump):
        tmp = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(in_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (base + bump, base + bump))

    # b1: key 1 old, key 2 at T0, key 3 duplicated IN batch
    one_file(
        mk([(1, T0 - 2 * HOUR), (2, T0), (3, T0), (3, T0)]), "b1.parquet", 0
    )
    # b2: filler -> wm for b3 = T0 - 1h
    one_file(mk([(99, T0)]), "b2.parquet", 10)
    WM = T0 - HOUR
    # b3: boundary probes + replays
    one_file(
        mk([
            (10, WM - 1), (11, WM), (12, WM + 1),  # late-filter boundary
            (1, T0 - 2 * HOUR),                    # evicted/late replay
            (2, T0),                               # live replay
        ]),
        "b3.parquet", 20,
    )

    stream = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = run_dedup_stream(
        deduped_stream(stream, keys=("k",), ts_col="ts", delay="1 hour"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = sorted(
        (r.k, int(r.ts.timestamp() * 1_000_000) - T0)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [
        (1, -2 * HOUR),   # b1 on-time (no wm yet)
        (2, 0),
        (3, 0),           # in-batch duplicate collapsed
        (12, -HOUR + 1),  # ts > wm survives; ts == wm (11) dropped
        (99, 0),
    ]


def test_stream_stream_join_across_batches(spark, tmp_path):
    """streaming/joins.py: matches whose two rows arrive in DIFFERENT
    micro-batches are still emitted exactly once, and the drained total
    equals the batch interval join."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from osmcha_spark.streaming import interval_stream_join, run_stream_join

    T0 = 1_700_000_000_000_000
    MIN = 60 * 1_000_000

    def mk(rows, schema):
        return spark.createDataFrame(rows, schema).select(
            F.col("id"), F.timestamp_micros(F.col("ts_us")).alias("ts"),
            F.col("k"),
        )

    views = [(i, T0 + i * MIN, i % 3) for i in range(12)]
    buys = [(100 + i, T0 + i * MIN + 30 * 1_000_000, i % 3)
            for i in range(0, 12, 2)]

    base = time.time()

    def stage(rows, schema, dest_dir, name, bump):
        df = mk(rows, schema)
        tmp = str(tmp_path / f"_s_{os.path.basename(dest_dir)}_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(dest_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (base + bump, base + bump))

    in_l = str(tmp_path / "l"); os.makedirs(in_l)
    in_r = str(tmp_path / "r"); os.makedirs(in_r)
    sch = "id long, ts_us long, k long"
    # split both sides in half across files; one view batch arrives
    # AFTER the purchase batch it must match
    stage(views[:6], sch, in_l, "a.parquet", 0)
    stage(buys[:3], sch, in_r, "a.parquet", 5)
    stage(views[6:], sch, in_l, "b.parquet", 10)
    stage(buys[3:], sch, in_r, "b.parquet", 15)

    ls = spark.readStream.schema("id long, ts timestamp, k long") \
        .option("maxFilesPerTrigger", "1").parquet(in_l)
    rs = spark.readStream.schema("id long, ts timestamp, k long") \
        .option("maxFilesPerTrigger", "1").parquet(in_r) \
        .withColumnRenamed("id", "rid")
    j = interval_stream_join(
        ls, rs, key="k", left_ts="ts", right_ts="ts", upper="45 minutes"
    )
    q = run_stream_join(j, str(tmp_path / "out"), str(tmp_path / "ck"))
    q.awaitTermination()
    got = {(r.id, r.rid)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}

    lv = mk(views, sch)
    rb = mk(buys, sch).withColumnRenamed("id", "rid") \
        .withColumnRenamed("ts", "ts_r").withColumnRenamed("k", "k_r")
    want = {(r.id, r.rid) for r in lv.join(
        rb,
        (lv["k"] == rb["k_r"])
        & (rb["ts_r"] >= lv["ts"])
        & (rb["ts_r"] <= lv["ts"] + F.expr("INTERVAL 45 minutes")),
    ).collect()}
    assert got == want and len(got) > 0


def test_enrich_stream_cross_batch_and_left_outer(spark, stream_dirs):
    """Stream-static enrichment: rows arriving in DIFFERENT micro-batches
    (maxFilesPerTrigger=1) all join against the broadcast dim; left_outer
    keeps unmatched feed rows with NULL payload, inner drops them."""
    import glob
    import os
    import shutil

    from osmcha_spark.streaming import enrich_stream

    in_dir, out_dir, ckpt = stream_dirs
    feed = [(1, 10), (2, 20), (3, 99)]  # custkey 99 has no dim row
    for i, row in enumerate(feed):
        tmp = os.path.join(os.path.dirname(in_dir), f"_st{i}")
        spark.createDataFrame([row], "order_id long, cust long") \
            .coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(in_dir, f"b{i}.parquet"))

    dim = spark.createDataFrame(
        [(10, "EU"), (20, "NA")], "cust long, region string"
    )

    def run(how, out):
        ss = (
            spark.readStream.schema("order_id long, cust long")
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = (
            enrich_stream(ss, dim, "cust", ("region",), how=how)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", out + "_ckpt")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {
            (r.order_id, r.region)
            for r in spark.read.parquet(out).collect()
        }

    assert run("inner", out_dir + "_i") == {(1, "EU"), (2, "NA")}
    assert run("left_outer", out_dir + "_l") == {
        (1, "EU"), (2, "NA"), (3, None)
    }


def test_stream_upsert_merges_and_resumes(spark, stream_dirs, tmp_path):
    """foreachBatch-driven continuous merge: two micro-batches upsert
    into a partitioned snapshot table (second overwrites first's key),
    one commit each; a RESTARTED query consumes only the file added
    after the first drain (offset checkpoint) and merges it — final
    table = last writer per key, untouched partitions carried by file
    reference."""
    import glob
    import os
    import shutil

    from osmcha_spark.sources import tables as T
    from osmcha_spark.streaming import stream_upsert

    in_dir, _out, ckpt = stream_dirs
    table = str(tmp_path / "table")
    schema = "id long, part string, v long"
    # seed snapshot: two partitions
    T.snapshot_create(
        spark.createDataFrame([(1, "p1", 10), (2, "p2", 20)], schema),
        table, partition_col="part")

    def add_file(rows, name):
        tmp = str(tmp_path / f"_st_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(in_dir, f"{name}.parquet"))

    def drain():
        ss = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = stream_upsert(ss, table, key="id", partition_col="part",
                          checkpoint_dir=ckpt)
        q.awaitTermination()

    def p2_files():
        return {f["name"] for f in T.snapshot_files(table)
                if f["partition"] == "p2"}

    def snapshot():
        return {r.id: (r.part, r.v)
                for r in T.read_snapshot(spark, table).collect()}

    p2 = p2_files()
    add_file([(1, "p1", 11)], "b0")        # update key 1
    add_file([(3, "p1", 33)], "b1")        # new key in p1
    drain()
    assert snapshot() == {1: ("p1", 11), 2: ("p2", 20), 3: ("p1", 33)}
    assert T.list_snapshots(table) == [0, 1, 2]  # one commit per batch

    add_file([(1, "p1", 111), (4, "p3", 44)], "b2")
    drain()  # restart from checkpoint: only b2 is new
    assert snapshot() == {1: ("p1", 111), 2: ("p2", 20), 3: ("p1", 33),
                          4: ("p3", 44)}
    assert [T._load_manifest(table, s)["commit_id"]
            for s in T.list_snapshots(table)] == [
        None, "stream-upsert-0", "stream-upsert-1", "stream-upsert-2"]
    # p2 never touched by any batch: its file carried by reference
    assert p2_files() == p2


def test_stream_upsert_replay_overlapping_keys_lww(
    spark, stream_dirs, tmp_path
):
    """VERDICT r3 item 9: the q96 gate uses key-disjoint batches by
    design; this pins replay safety END-TO-END through foreachBatch
    when a batch REPLAYS with keys overlapping the snapshot. The replay
    is genuine: the streaming checkpoint is rolled back to its pre-drain
    state (simulating a crash after the commit but before the offset
    log), so the SAME file goes through the same sink again. The
    replayed batch finds its ``stream-upsert-<id>`` commit: no new
    snapshot, no new file — and when the crash also lost the _CURRENT
    repoint, the replay heals it by the repoint alone. A strictly STALE
    batch (lower version than the table's) must not regress the table
    (``version_col`` LWW)."""
    import glob
    import os
    import shutil

    from osmcha_spark.sources import tables as T
    from osmcha_spark.streaming import stream_upsert

    in_dir, _out, ckpt = stream_dirs
    table = str(tmp_path / "table")
    schema = "id long, part string, v long, ver long"
    T.snapshot_create(
        spark.createDataFrame([(1, "p1", 10, 5), (2, "p2", 20, 1)], schema),
        table, partition_col="part")

    def add_file(rows, name):
        tmp = str(tmp_path / f"_st_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(in_dir, f"{name}.parquet"))

    def drain():
        ss = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = stream_upsert(ss, table, key="id", partition_col="part",
                          checkpoint_dir=ckpt, version_col="ver")
        q.awaitTermination()

    def snapshot():
        return {r.id: (r.part, r.v, r.ver)
                for r in T.read_snapshot(spark, table).collect()}

    def state():
        return (T.list_snapshots(table),
                sorted(os.listdir(T._data_dir(table))))

    # batch overlaps key 1 (newer version) and inserts key 3
    add_file([(1, "p1", 11, 6), (3, "p1", 33, 2)], "b0")
    drain()
    want = {1: ("p1", 11, 6), 2: ("p2", 20, 1), 3: ("p1", 33, 2)}
    assert snapshot() == want
    committed = state()

    # roll the offset log back and drain again: b0 replays through
    # foreachBatch against a table that already holds its commit
    # (fresh checkpoint == replay from the beginning: b0 is rediscovered)
    shutil.rmtree(ckpt)
    os.makedirs(ckpt)
    drain()
    assert snapshot() == want, "replayed batch changed the table"
    assert state() == committed, "replayed batch wrote a new commit"

    # the same replay after a crash that also lost the _CURRENT repoint
    T._point_current(table, 0)
    assert snapshot() != want  # readers see the previous snapshot
    shutil.rmtree(ckpt)
    os.makedirs(ckpt)
    drain()
    assert T.current_snapshot(table) == 1
    assert snapshot() == want and state() == committed

    # a strictly stale batch (ver 4 < snapshot's ver 6 for key 1) must
    # lose the cross-snapshot LWW — no regression
    add_file([(1, "p1", 999, 4)], "b_stale")
    drain()
    assert snapshot() == want, "stale batch regressed a newer row"


def test_pyramid_commit_protocol_replay_and_crash(spark, tmp_path):
    """apply_pyramid_batch's snapshot commits make the ADDITIVE merge
    replay-safe: re-applying a committed batch is a no-op (no double
    counting, no new snapshot or data file), a crash between the
    manifest and the _CURRENT repoint heals by the repoint alone, an
    empty batch commits nothing, and expiry keeps at most current +
    previous snapshots."""
    from osmcha_spark.operators.tiles import tile_pyramid
    from osmcha_spark.sources import tables as T
    from osmcha_spark.streaming import apply_pyramid_batch

    path = str(tmp_path / "pyr")

    def pts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"),
            ((F.pmod(F.xxhash64("id"), 3600) / 10.0) - 180.0)
            .alias("lon"),
            ((F.pmod(F.xxhash64(F.col("id") + 9), 1800) / 10.0) - 90.0)
            .alias("lat"),
        )

    def apply(lo, hi, batch_id):
        apply_pyramid_batch(pts(lo, hi), batch_id, path, "lon", "lat", 8, 5)

    def snap():
        return {
            (r.level, r.cell, r.n)
            for r in T.read_snapshot(spark, path).collect()
        }

    def want(df):
        return {
            (r.level, r.cell, r.n)
            for r in tile_pyramid(df, "lon", "lat", 8, 5).collect()
        }

    def state():
        return (T.current_snapshot(path), T.list_snapshots(path),
                sorted(os.listdir(T._data_dir(path))))

    apply(0, 400, 0)
    assert snap() == want(pts(0, 400))
    # replay of a committed batch: no-op
    before = state()
    apply(0, 400, 0)
    assert snap() == want(pts(0, 400)) and state() == before

    apply(400, 700, 1)
    after_two = want(pts(0, 700))
    assert snap() == after_two
    before = state()
    apply(400, 700, 1)
    assert snap() == after_two and state() == before

    apply(700, 900, 2)
    after_three = want(pts(0, 900))
    assert snap() == after_three
    # at most current + previous are kept
    s2 = T.current_snapshot(path)
    s1 = T._load_manifest(path, s2)["parent"]
    assert T.list_snapshots(path) == [s1, s2]

    # crash window: batch 2's manifest committed but _CURRENT still at
    # batch 1's snapshot — the replay must only repoint, not re-merge
    T._point_current(path, s1)
    assert snap() == after_two  # readers see the old committed snapshot
    files = sorted(os.listdir(T._data_dir(path)))
    apply(700, 900, 2)
    assert snap() == after_three
    assert state() == (s2, [s1, s2], files)

    # an empty batch commits nothing
    apply(900, 900, 3)
    assert state() == (s2, [s1, s2], files)


def test_tumbling_agg_cross_batch_accumulation(spark, tmp_path):
    """tumbling_agg (q112): a window that receives rows in TWO separate
    micro-batches emits ONCE with the combined total — the state-store
    accumulation that distinguishes streaming windowed agg from
    per-batch groupBy. Also pins: the sentinel's own window is never
    emitted, and no (key, window) appears twice."""
    import glob as _glob

    from osmcha_spark.streaming import tumbling_agg

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base = 1_700_000_000_000_000  # epoch micros

    def write_batch(rows, name, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, ts_us long, user_id long, cents long"
        ).select(
            "event_id",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "user_id", "cents",
        )
        tmp = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(in_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    hour = 3600_000_000
    width = 6 * hour
    base = base // width * width  # align so the window math below is exact
    # window [base, base+6h): two rows in batch 1, one more in batch 2
    write_batch(
        [(1, base + 1 * hour, 7, 100), (2, base + 5 * hour, 7, 10)],
        "b1.parquet", 1_000_000_000.0,
    )
    write_batch(
        [(3, base + 5 * hour + 1800_000_000, 7, 1)],
        "b2.parquet", 1_000_000_010.0,
    )
    write_batch(
        [(-1, base + 100 * hour, -1, 0)],
        "b3.parquet", 1_000_000_020.0,
    )

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, cents long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out_dir = str(tmp_path / "out")
    q = (
        tumbling_agg(stream, key="user_id", ts_col="ts", width="6 hours")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.read.parquet(out_dir).collect()
    got = {(r.user_id, r.win_start_us): (r.n_events, r.cents)
           for r in rows}
    assert len(rows) == len(got), "duplicate (key, window) emission"
    # all three rows share the [base, base+6h) window; 2 arrived in
    # batch 1, the third in batch 2 — one emission, combined total
    assert got == {(7, base): (3, 111)}, got  # sentinel window absent


def test_stream_left_outer_join_null_timing_and_drain(spark, tmp_path):
    """Left-outer stream-stream join (SPARK-26154 regime): an unmatched
    left row's NULL emission is WATERMARK-TIMED — absent while the
    global watermark has not passed view_ts + upper (run 1), flushed
    once sentinel batches push it past (run 2, same checkpoint), with
    the drained set equal to the batch LEFT join and no sentinel leak.
    Cross-batch matches (view in batch 1, purchase in batch 2) emit
    exactly once."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from osmcha_spark.streaming import interval_stream_join, run_stream_join

    T0 = 1_700_000_000_000_000
    MIN = 60 * 1_000_000
    DAY = 86_400 * 1_000_000

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, ts_us long, k long"
        ).select("id", F.timestamp_micros("ts_us").alias("ts"), "k")

    base = time.time()

    def stage(rows, dest_dir, name, bump):
        df = mk(rows)
        tmp = str(tmp_path / f"_s_{os.path.basename(dest_dir)}_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(dest_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (base + bump, base + bump))

    in_l = str(tmp_path / "l"); os.makedirs(in_l)
    in_r = str(tmp_path / "r"); os.makedirs(in_r)
    # b1: v1 matched in-batch; v2 never matched; v4 matched cross-batch
    stage([(1, T0, 1), (2, T0 + MIN, 2), (4, T0 + 5 * MIN, 3)],
          in_l, "b1.parquet", 0)
    stage([(101, T0 + 30 * MIN, 1)], in_r, "b1.parquet", 0)
    # b2 (right only): p2 matches v4 cross-batch, 40 min after T0
    stage([(102, T0 + 40 * MIN, 3)], in_r, "b2.parquet", 10)

    def run():
        ls = spark.readStream.schema("id long, ts timestamp, k long") \
            .option("maxFilesPerTrigger", "1").parquet(in_l)
        rs = spark.readStream.schema("id long, ts timestamp, k long") \
            .option("maxFilesPerTrigger", "1").parquet(in_r) \
            .withColumnRenamed("id", "rid")
        j = interval_stream_join(
            ls, rs, key="k", left_ts="ts", right_ts="ts",
            upper="45 minutes", how="left_outer",
        )
        q = run_stream_join(j, str(tmp_path / "out"), str(tmp_path / "ck"))
        q.awaitTermination()
        return {(r.id, r.rid)
                for r in spark.read.parquet(str(tmp_path / "out"))
                .where("k >= 0").collect()}

    got1 = run()
    # matches emit when both rows are present; the unmatched v2 is HELD:
    # global watermark (min of sides) is still T0+5min < v2.ts + 45min
    assert (1, 101) in got1 and (4, 102) in got1
    assert (2, None) not in got1

    # sentinel batches push the watermark past every view's reach; the
    # second drains what the first's watermark released
    stage([(-1, T0 + 2 * DAY, -1)], in_l, "b3.parquet", 20)
    stage([(-1, T0 + 2 * DAY, -1)], in_r, "b3.parquet", 20)
    stage([(-2, T0 + 4 * DAY, -2)], in_l, "b4.parquet", 30)
    stage([(-2, T0 + 4 * DAY, -2)], in_r, "b4.parquet", 30)
    got2 = run()
    assert got2 == {(1, 101), (4, 102), (2, None)}


def test_stream_full_outer_join_drains_both_null_sides(spark, tmp_path):
    """Full-outer stream-stream join (q182): BOTH unmatched sides emit
    NULL rows, each timed by its own eviction watermark — an unmatched
    right row's window closes at right_ts (one ``upper`` earlier than
    the left's left_ts + upper release). Held mid-stream, flushed by
    sentinel pushes on both inputs; drained set == batch FULL OUTER
    interval join, matches emit exactly once, no sentinel leak."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from osmcha_spark.streaming import interval_stream_join, run_stream_join

    T0 = 1_700_000_000_000_000
    MIN = 60 * 1_000_000
    DAY = 86_400 * 1_000_000

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, ts_us long, k long"
        ).select("id", F.timestamp_micros("ts_us").alias("ts"), "k")

    base = time.time()

    def stage(rows, dest_dir, name, bump):
        df = mk(rows)
        tmp = str(tmp_path / f"_s_{os.path.basename(dest_dir)}_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(dest_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (base + bump, base + bump))

    in_l = str(tmp_path / "l"); os.makedirs(in_l)
    in_r = str(tmp_path / "r"); os.makedirs(in_r)
    # left b1: v1 matched in-batch; v2 never matched; v4 matched
    # cross-batch by a batch-2 purchase
    stage([(1, T0, 1), (2, T0 + MIN, 2), (4, T0 + 5 * MIN, 3)],
          in_l, "b1.parquet", 0)
    # right b1: p101 matches v1; p103 has no left with its key — the
    # right-null regime under test
    stage([(101, T0 + 30 * MIN, 1), (103, T0 + 10 * MIN, 9)],
          in_r, "b1.parquet", 0)
    # right b2: p102 matches v4 cross-batch
    stage([(102, T0 + 40 * MIN, 3)], in_r, "b2.parquet", 10)

    def run():
        ls = spark.readStream.schema("id long, ts timestamp, k long") \
            .option("maxFilesPerTrigger", "1").parquet(in_l)
        rs = spark.readStream.schema("id long, ts timestamp, k long") \
            .option("maxFilesPerTrigger", "1").parquet(in_r) \
            .withColumnRenamed("id", "rid")
        j = interval_stream_join(
            ls, rs, key="k", left_ts="ts", right_ts="ts",
            upper="45 minutes", how="full_outer",
        )
        q = run_stream_join(j, str(tmp_path / "out"), str(tmp_path / "ck"))
        q.awaitTermination()
        return {(r.id, r.rid)
                for r in spark.read.parquet(str(tmp_path / "out"))
                .where(F.coalesce("k", "k_r") >= 0).collect()}

    got1 = run()
    # matches emit when both rows land; both null regimes are HELD —
    # the global watermark is still behind every eviction point
    assert (1, 101) in got1 and (4, 102) in got1
    assert (2, None) not in got1 and (None, 103) not in got1

    # sentinels on BOTH inputs push the watermark past every row's
    # reach; the second batch drains what the first's watermark released
    stage([(-1, T0 + 2 * DAY, -1)], in_l, "b3.parquet", 20)
    stage([(-1, T0 + 2 * DAY, -1)], in_r, "b3.parquet", 20)
    stage([(-2, T0 + 4 * DAY, -2)], in_l, "b4.parquet", 30)
    stage([(-2, T0 + 4 * DAY, -2)], in_r, "b4.parquet", 30)
    got2 = run()
    assert got2 == {(1, 101), (4, 102), (2, None), (None, 103)}


def test_stream_snapshot_append_exactly_once_and_incremental(
        spark, stream_dirs, tmp_path):
    """Kappa wiring: a file stream appends into the snapshot table via
    per-batch commit_ids (exactly-once by replay idempotence), a
    restarted query consumes only new files, and a downstream consumer
    reads O(delta) via snapshot_changes from its last frontier."""
    import glob
    import os
    import shutil

    from osmcha_spark.sources import tables as T
    from osmcha_spark.streaming import stream_snapshot_append

    in_dir, _out, ckpt = stream_dirs
    table = str(tmp_path / "table")
    schema = "id long, part string, v long"

    def add_file(rows, name):
        tmp = str(tmp_path / f"_st_{name}")
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(in_dir, f"{name}.parquet"))

    def drain():
        ss = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = stream_snapshot_append(ss, table, checkpoint_dir=ckpt,
                                   partition_col="part")
        q.awaitTermination()

    add_file([(1, "p1", 10), (2, "p2", 20)], "b0")
    add_file([(3, "p1", 30)], "b1")
    drain()
    frontier = T.current_snapshot(table)
    assert frontier == 1  # create + one append, one commit per batch
    got = {r.id for r in T.read_snapshot(spark, table).collect()}
    assert got == {1, 2, 3}
    # foreachBatch replay: same commit_id is a repoint, never a dup
    replay = spark.createDataFrame([(3, "p1", 30)], schema)
    assert T.snapshot_append(replay, table,
                             commit_id="stream-batch-1") == frontier
    assert T.read_snapshot(spark, table).count() == 3
    # restart consumes only the new file; downstream reads the delta
    add_file([(4, "p3", 40), (5, "p1", 50)], "b2")
    drain()
    assert T.current_snapshot(table) == 2
    delta = T.snapshot_changes(spark, table, frontier)
    assert {r.id for r in delta.collect()} == {4, 5}
    assert T.read_snapshot(spark, table).count() == 5
    # every commit remains a time-travelable snapshot
    assert T.read_snapshot(spark, table, snapshot=0).count() == 2


def test_stream_snapshot_append_empty_batches_commit_nothing(
        spark, stream_dirs, tmp_path):
    """An empty micro-batch (a zero-row parquet file), first or later,
    creates no snapshot and leaves no file under data/ or staging; the
    next non-empty batch commits normally, and a replayed
    stream-batch-<id> only repoints."""
    import glob

    from osmcha_spark.sources import tables as T
    from osmcha_spark.streaming import stream_snapshot_append

    in_dir, _out, ckpt = stream_dirs
    table = str(tmp_path / "table")
    schema = "id long, part string"

    def drain_file(rows, name):
        tmp = str(tmp_path / f"_st_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(in_dir, f"{name}.parquet"))
        ss = spark.readStream.schema(schema).parquet(in_dir)
        stream_snapshot_append(ss, table, checkpoint_dir=ckpt,
                               partition_col="part").awaitTermination()

    def data_files():
        return sorted(os.listdir(os.path.join(table, "data"))) \
            if os.path.isdir(os.path.join(table, "data")) else []

    def leftovers():
        return [n for n in os.listdir(table) if n.startswith("_staging")] \
            if os.path.isdir(table) else []

    drain_file([], "e0")  # batch 0: empty, arrives first
    assert T.current_snapshot(table) is None
    assert data_files() == [] and leftovers() == []

    drain_file([(1, "p1"), (2, "p2")], "b1")  # batch 1 creates
    assert T.list_snapshots(table) == [0]
    assert T._load_manifest(table, 0)["commit_id"] == "stream-batch-1"

    drain_file([], "e2")  # batch 2: empty, arrives later
    assert T.list_snapshots(table) == [0]
    assert data_files() == sorted(f["name"] for f in T.snapshot_files(table))
    assert leftovers() == []

    drain_file([(3, "p1")], "b3")  # batch 3 appends
    assert T.list_snapshots(table) == [0, 1]
    assert T._load_manifest(table, 1)["commit_id"] == "stream-batch-3"
    assert {r.id for r in T.read_snapshot(spark, table).collect()} \
        == {1, 2, 3}

    # crash between manifest and repoint: the replay only repoints
    files_before = data_files()
    T._point_current(table, 0)
    replay = spark.createDataFrame([(3, "p1")], schema)
    assert T.snapshot_append(replay, table, commit_id="stream-batch-3",
                             _skip_empty=True) == 1
    assert T.current_snapshot(table) == 1
    assert data_files() == files_before
    assert T.read_snapshot(spark, table).count() == 3


def test_stream_snapshot_append_runs_no_emptiness_probe(
        spark, stream_dirs, monkeypatch, replication_gz, tmp_path):
    """Structural pin: the append, upsert and pyramid sinks never call
    DataFrame.isEmpty (one Spark pass per micro-batch). A replication
    stream whose first file holds an empty <osm/> drains with isEmpty
    raising, commits nothing for it, and commits the next file's 25
    changesets as the table's first snapshot. stream_upsert and
    stream_pyramid drains that interleave zero-row parquet files commit
    only the non-empty batches and leave no file behind for the empty
    ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmcha_spark.operators.tiles import tile_pyramid
    from osmcha_spark.streaming import stream_pyramid, stream_upsert

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from osmcha_spark.sources import tables as T
    from osmcha_spark.sources.replication import write_replication_gz
    from osmcha_spark.streaming import (
        read_replication_stream,
        stream_snapshot_append,
    )

    def no_probe(self):
        raise AssertionError("stream sink ran an isEmpty() probe")

    monkeypatch.setattr(ClassicDF, "isEmpty", no_probe)
    in_dir, table, ckpt = stream_dirs
    write_replication_gz([], os.path.join(in_dir, "000001.osm.gz"))
    os.utime(os.path.join(in_dir, "000001.osm.gz"), (1, 1))
    shutil.copy(replication_gz, os.path.join(in_dir, "000002.osm.gz"))
    cs = read_replication_stream(spark, in_dir, max_files_per_trigger=1)
    stream_snapshot_append(cs, table, ckpt).awaitTermination()
    assert T.list_snapshots(table) == [0]
    assert T._load_manifest(table, 0)["commit_id"] == "stream-batch-1"
    assert T.read_snapshot(spark, table).count() == 25

    def drain(sink, name, ddl, schema, batches):
        """Files e0, b1, e2, b3 (e = zero rows), picked up in that
        order, one per micro-batch."""
        src = str(tmp_path / f"{name}_in")
        os.makedirs(src)
        for i, rows in enumerate(batches):
            tbl = pa.Table.from_pylist(rows, schema=schema)
            f = os.path.join(src, f"{i:02d}.parquet")
            pq.write_table(tbl, f)
            os.utime(f, (i + 1, i + 1))
        ss = spark.readStream.schema(ddl) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        out = str(tmp_path / name)
        sink(ss, out, str(tmp_path / f"{name}_ckpt")).awaitTermination()
        assert [T._load_manifest(out, s)["commit_id"]
                for s in T.list_snapshots(out)] == \
            [f"stream-{name}-1", f"stream-{name}-3"]
        assert set(os.listdir(T._data_dir(out))) == {
            f["name"] for s in T.list_snapshots(out)
            for f in T.snapshot_files(out, s)}
        return T.read_snapshot(spark, out)

    kv = pa.schema([("id", pa.int64()), ("part", pa.string()),
                    ("v", pa.int64())])
    got = drain(
        lambda ss, out, ck: stream_upsert(ss, out, key="id",
                                          partition_col="part",
                                          checkpoint_dir=ck),
        "upsert", "id long, part string, v long", kv,
        [[], [{"id": 1, "part": "p1", "v": 10}], [],
         [{"id": 1, "part": "p1", "v": 11},
          {"id": 2, "part": "p2", "v": 20}]])
    assert {r.id: r.v for r in got.collect()} == {1: 11, 2: 20}

    ll = pa.schema([("id", pa.int64()), ("lon", pa.float64()),
                    ("lat", pa.float64())])
    pts = [{"id": i, "lon": (i * 37 % 360) - 180.0,
            "lat": (i * 11 % 180) - 90.0} for i in range(40)]
    got = drain(
        lambda ss, out, ck: stream_pyramid(ss, out, "lon", "lat", 6, 4,
                                           checkpoint_dir=ck),
        "pyramid", "id long, lon double, lat double", ll,
        [[], pts[:25], [], pts[25:]])
    want = tile_pyramid(
        spark.createDataFrame(pts, "id long, lon double, lat double"),
        "lon", "lat", 6, 4)
    assert {tuple(r) for r in got.select("level", "cell", "n").collect()} \
        == {tuple(r) for r in want.collect()}


def test_stream_snapshot_merge_cdc_and_replay(spark, stream_dirs, tmp_path):
    """CDC wiring (q156): micro-batches MERGE into the snapshot table
    (delete/update/insert clause order per batch), replays of a batch's
    commit_id repoint instead of re-merging, untouched partitions are
    carried by reference, and a restarted query merges only new files."""
    import glob
    import os
    import shutil

    from osmcha_spark.sources import tables as T
    from osmcha_spark.streaming.ingest import stream_snapshot_merge

    in_dir, _out, ckpt = stream_dirs
    table = str(tmp_path / "table")
    schema = "id long, part string, v long"

    def add_file(rows, name):
        tmp = str(tmp_path / f"_st_{name}")
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(in_dir, f"{name}.parquet"))

    def drain():
        ss = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = stream_snapshot_merge(
            ss, table, checkpoint_dir=ckpt, key="id",
            partition_col="part",
            delete_condition="s.v < 0",
            update_condition="s.v > t.v",
        )
        q.awaitTermination()

    add_file([(1, "p1", 10), (2, "p2", 20), (3, "p3", 30)], "b0")
    add_file([(1, "p1", -5), (2, "p2", 99), (4, "p1", 40)], "b1")
    drain()
    assert T.current_snapshot(table) == 1  # create + one merge commit
    got = {r.id: r.v for r in T.read_snapshot(spark, table).collect()}
    assert got == {2: 99, 3: 30, 4: 40}  # 1 deleted, 2 updated, 4 inserted
    # p3 never touched by the merge batch -> its file carried verbatim
    f0 = {f["name"] for f in T.snapshot_files(table, snapshot=0)
          if f["partition"] == "p3"}
    f1 = {f["name"] for f in T.snapshot_files(table, snapshot=1)
          if f["partition"] == "p3"}
    assert f0 == f1
    # replay of batch 1's commit_id repoints, never re-merges
    replay = spark.createDataFrame([(2, "p2", 1)], schema)
    assert T.snapshot_merge_into(replay, table, "id",
                                 commit_id="stream-merge-1") == 1
    assert {r.id: r.v for r in T.read_snapshot(spark, table).collect()} \
        == {2: 99, 3: 30, 4: 40}
    # restart merges only the new file: 150 > 99 updates, -1 deletes
    add_file([(2, "p2", 150), (3, "p3", -1)], "b2")
    drain()
    assert T.current_snapshot(table) == 2
    got2 = {r.id: r.v for r in T.read_snapshot(spark, table).collect()}
    assert got2 == {2: 150, 4: 40}


def test_sliding_agg_window_set_batch_semantics(spark):
    """sliding_agg (q163): in batch mode one event lands in exactly
    width/slide windows whose starts step back by the slide from its
    slide-grid bucket; two events one slide apart overlap on
    width/slide - 1 trailing windows and their cents superpose there."""
    from datetime import datetime, timezone

    from osmcha_spark.streaming import sliding_agg

    def us(h):
        return int(datetime(2024, 1, 1, h,
                            tzinfo=timezone.utc).timestamp()) * 1_000_000

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 7), 10, 5),
         (2, datetime(2024, 1, 1, 9), 10, 7)],
        "event_id long, ts timestamp, user_id long, cents long")
    got = {r.win_start_us: (r.n_events, r.cents)
           for r in sliding_agg(ev, width="6 hours", slide="2 hours")
           .collect()}
    # event@7h -> windows starting 2h, 4h, 6h; event@9h -> 4h, 6h, 8h
    assert got == {
        us(2): (1, 5), us(4): (2, 12), us(6): (2, 12), us(8): (1, 7),
    }


def test_dedup_ttl_key_only_reemission(spark, tmp_path):
    """deduped_stream_ttl (dropDuplicatesWithinWatermark), measured on
    this build: identity is the KEY alone — a retry with a DIFFERENT
    timestamp inside the TTL window still drops; eviction is END-of-
    batch, so a key re-emits only in the batch AFTER the watermark
    passed its expiry; and the operator does NOT late-filter (a
    sub-watermark FIRST arrival still emits)."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from osmcha_spark.streaming.dedup import (deduped_stream_ttl,
                                              run_dedup_stream)

    T0 = 1_700_000_000_000_000
    HOUR = 3600 * 1_000_000
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base = time.time()

    def mk(rows):
        return spark.createDataFrame(rows, "k long, ts_us long").select(
            "k", F.timestamp_micros(F.col("ts_us")).alias("ts")
        )

    def one_file(df, name, bump):
        tmp = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(in_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (base + bump, base + bump))

    # b1: first arrival of key 1
    one_file(mk([(1, T0)]), "b1.parquet", 0)
    # b2: retry of key 1 with a DIFFERENT ts (live state -> drop);
    # key 99 far ahead pushes the watermark to T0 + 2h for b3
    one_file(mk([(1, T0 + 1800 * 1_000_000), (99, T0 + 3 * HOUR)]),
             "b2.parquet", 10)
    # b3: wm = T0+2h passed key 1's expiry, but eviction is END-of-
    # batch: this arrival still drops; key 50 is below the watermark
    # yet EMITS (no late filter); key 99 retry while live -> drop
    one_file(mk([(1, T0 + 3 * HOUR), (50, T0), (99, T0 + 3 * HOUR)]),
             "b3.parquet", 20)
    # b4: key 1 NOW re-emits (state evicted at the end of b3)
    one_file(mk([(1, T0 + 5 * HOUR)]), "b4.parquet", 30)

    stream = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = run_dedup_stream(
        deduped_stream_ttl(stream, keys=("k",), ts_col="ts",
                           ttl="1 hour"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = sorted(
        (r.k, (int(r.ts.timestamp() * 1_000_000) - T0) // HOUR)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [(1, 0), (1, 5), (50, 0), (99, 3)]


def test_stream_anti_join_suppression_and_drain(spark, tmp_path):
    """Stream-stream LEFT ANTI interval join (the leftOuter + IS NULL
    composition — Spark has no native streaming leftAnti): a purchase
    in a LATER batch still suppresses its earlier view (cross-batch
    suppression); an in-window match never appears; an out-of-window
    purchase does NOT suppress; unmatched views flush only after
    sentinel batches move the watermark (anti emission inherits the
    outer join's timing), and the drained set equals the batch NOT
    EXISTS."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from osmcha_spark.streaming import run_stream_join
    from osmcha_spark.streaming.joins import anti_stream_join

    T0 = 1_700_000_000_000_000
    MIN = 60 * 1_000_000
    DAY = 86_400 * 1_000_000

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, ts_us long, k long"
        ).select("id", F.timestamp_micros("ts_us").alias("ts"), "k")

    base = time.time()

    def stage(rows, dest_dir, name, bump):
        df = mk(rows)
        tmp = str(tmp_path / f"_s_{os.path.basename(dest_dir)}_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(dest_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (base + bump, base + bump))

    in_l = str(tmp_path / "l"); os.makedirs(in_l)
    in_r = str(tmp_path / "r"); os.makedirs(in_r)
    # views: v1 matched in-batch; v2 never matched; v3 matched only by a
    # LATER batch's purchase; v4's only purchase is OUTSIDE the window
    stage([(1, T0, 1), (2, T0 + MIN, 2), (3, T0 + 5 * MIN, 3),
           (4, T0 + MIN, 4)],
          in_l, "b1.parquet", 0)
    stage([(101, T0 + 30 * MIN, 1)], in_r, "b1.parquet", 0)
    stage([(102, T0 + 40 * MIN, 3), (103, T0 + 50 * MIN, 4)],
          in_r, "b2.parquet", 10)
    stage([(-1, T0 + 2 * DAY, -1)], in_l, "b3.parquet", 20)
    stage([(-1, T0 + 2 * DAY, -1)], in_r, "b3.parquet", 20)
    stage([(-2, T0 + 4 * DAY, -2)], in_l, "b4.parquet", 30)
    stage([(-2, T0 + 4 * DAY, -2)], in_r, "b4.parquet", 30)

    ls = spark.readStream.schema("id long, ts timestamp, k long") \
        .option("maxFilesPerTrigger", "1").parquet(in_l)
    rs = spark.readStream.schema("id long, ts timestamp, k long") \
        .option("maxFilesPerTrigger", "1").parquet(in_r) \
        .withColumnRenamed("id", "rid")
    a = anti_stream_join(
        ls, rs, key="k", left_ts="ts", right_ts="ts",
        upper="45 minutes",
    )
    # anti output keeps ONLY left columns
    assert set(a.columns) == {"id", "ts", "k"}
    q = run_stream_join(a, str(tmp_path / "out"), str(tmp_path / "ck"))
    q.awaitTermination()
    got = {r.id for r in spark.read.parquet(str(tmp_path / "out"))
           .where("k >= 0").collect()}
    # v4's purchase arrived at +49 min > 45-min window: NOT suppressed
    assert got == {2, 4}


def test_stream_into_hidden_partition_table(spark, tmp_path):
    """Kappa + hidden partitioning composed: a file stream sinks into a
    bucket-transformed snapshot table (first batch creates with the
    transform, later micro-batch appends INHERIT it), and point
    lookups on the SOURCE column prune files across every commit."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from osmcha_spark.sources import tables as T
    from osmcha_spark.streaming import stream_snapshot_append

    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)

    def stage(lo, hi, name):
        df = spark.range(lo, hi).selectExpr("id", "id % 13 AS k",
                                            "id * 2 AS v")
        tmp = str(tmp_path / f"_s_{name}")
        df.coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                    os.path.join(in_dir, name))

    stage(0, 60, "b1.parquet")
    stage(60, 120, "b2.parquet")
    table = str(tmp_path / "t")
    s = spark.readStream.schema("id long, k long, v long") \
        .option("maxFilesPerTrigger", "1").parquet(in_dir)
    q = stream_snapshot_append(
        s, table, str(tmp_path / "ck"),
        partition_transform=("bucket", 4, "k"))
    q.awaitTermination()

    man_files = T.snapshot_files(table)
    assert sorted({f["partition"] for f in man_files}) \
        == ["0", "1", "2", "3"]
    pruned = T.snapshot_files(table, where_eq=[("k", 5)])
    assert 0 < len(pruned) < len(man_files)
    assert len({f["partition"] for f in pruned}) == 1
    got = (T.read_snapshot(spark, table, where_eq=[("k", 5)])
           .where("k = 5").count())
    assert got == sum(1 for i in range(120) if i % 13 == 5)
    # both micro-batches landed exactly once
    assert T.read_snapshot(spark, table).count() == 120
