"""Snapshot table format (sources/tables.py, S10): commit atomicity,
crash windows, time travel, copy-on-write file carry-over, compaction
idempotence, expiry + vacuum."""
import os

import pytest
from pyspark.sql import functions as F

from osmcha_spark.sources import tables as T


def _mk(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("part"),
        (F.col("id") * 10).alias("v"),
    )


def test_snapshot_create_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _mk(spark)
    sid = T.snapshot_create(df, path, partition_col="part")
    assert sid == 0 and T.current_snapshot(path) == 0
    got = T.read_snapshot(spark, path)
    assert got.count() == 400
    assert {r.k for r in got.where("part = 3").collect()} == \
        {r.k for r in df.where("part = 3").collect()}


def test_upsert_time_travel_and_carryover(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _mk(spark)
    s0 = T.snapshot_create(df, path, partition_col="part")
    man0 = T._load_manifest(path, s0)
    # updates touch parts 0 and 1 only: overwrite k<10, insert k>=1000
    ups = spark.createDataFrame(
        [(7, 0, 999), (1000, 1, 111)], "k long, part long, v long")
    s1 = T.snapshot_upsert(ups, path, key="k")
    cur = {r.k: r.v for r in T.read_snapshot(spark, path).collect()}
    assert cur[7] == 999 and cur[1000] == 111 and cur[8] == 80
    assert len(cur) == 401
    # TIME TRAVEL: snapshot 0 still reads its original bytes
    old = {r.k: r.v for r in T.read_snapshot(spark, path, snapshot=s0)
           .collect()}
    assert old[7] == 70 and 1000 not in old and len(old) == 400
    # untouched partitions carried over by file REFERENCE (same names)
    man1 = T._load_manifest(path, s1)
    f0 = {f["name"] for f in man0["files"] if f["partition"] not in
          ("0", "1")}
    f1 = {f["name"] for f in man1["files"] if f["partition"] not in
          ("0", "1")}
    assert f0 == f1 and f0
    # manifest partition pruning: only the asked partitions' files scan
    pruned = T.read_snapshot(spark, path, partitions=[3])
    assert all("data" in f for f in pruned.inputFiles())
    assert len(pruned.inputFiles()) == len(
        [f for f in man1["files"] if f["partition"] == "3"])
    assert pruned.count() == df.where("part = 3").count()


def test_crash_windows_and_replay(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _mk(spark, 100)
    T.snapshot_create(df, path, partition_col="part")

    # crash window (a): data files written, NO manifest — invisible
    orphans = T._write_files(
        spark.createDataFrame([(1, 1, 5)], "k long, part long, v long"),
        path, "part")
    assert T.read_snapshot(spark, path).count() == 100
    removed = T.vacuum(path)
    assert sorted(removed) == sorted(e["name"] for e in orphans)

    # crash window (b): manifest committed, _CURRENT repoint lost
    ups = spark.createDataFrame([(3, 3, 777)], "k long, part long, v long")
    s1 = T.snapshot_upsert(ups, path, key="k", commit_id="batch-1")
    T._point_current(path, 0)  # simulate the lost repoint
    assert T.read_snapshot(spark, path).count() == 100  # old, consistent
    files_before = set(os.listdir(T._data_dir(path)))
    # replay of the same commit: pure repoint, no new files, same id
    s1b = T.snapshot_upsert(ups, path, key="k", commit_id="batch-1")
    assert s1b == s1 and T.current_snapshot(path) == s1
    assert set(os.listdir(T._data_dir(path))) == files_before
    got = {r.k: r.v for r in T.read_snapshot(spark, path).collect()}
    assert got[3] == 777

    # replay when already current: still a no-op
    s1c = T.snapshot_upsert(ups, path, key="k", commit_id="batch-1")
    assert s1c == s1
    assert set(os.listdir(T._data_dir(path))) == files_before


def test_compact_binpacks_and_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    base = _mk(spark, 50).where("part = 2")
    T.snapshot_create(base, path, partition_col="part")
    # fragment partition 2 with several tiny appends (the streaming-
    # ingest shape snapshot_compact exists to clean up after)
    for i in range(4):
        rows = spark.createDataFrame(
            [(9000 + i, 2, i)], "k long, part long, v long")
        T.snapshot_append(rows, path)
    man = T._load_manifest(path, T.current_snapshot(path))
    assert len(man["files"]) >= 3
    before = {r.k: r.v for r in T.read_snapshot(spark, path).collect()}
    sid = T.snapshot_compact(spark, path, target_bytes=1 << 30)
    assert sid is not None
    man2 = T._load_manifest(path, sid)
    assert len(man2["files"]) == 1
    assert man2["files"][0]["partition"] == "2"
    after = {r.k: r.v for r in T.read_snapshot(spark, path).collect()}
    assert after == before  # content carried row-for-row
    # idempotent: the freshly written bin never re-qualifies
    assert T.snapshot_compact(spark, path, target_bytes=1 << 30) is None


def test_expire_and_vacuum_bound_storage(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_create(_mk(spark, 60), path, partition_col="part")
    for i in range(3):
        ups = spark.createDataFrame(
            [(i, i % 7, 12345 + i)], "k long, part long, v long")
        T.snapshot_upsert(ups, path, key="k")
    assert T.list_snapshots(path) == [0, 1, 2, 3]
    expired = T.expire_snapshots(path, keep_last=2)
    assert expired == [0, 1]
    assert T.list_snapshots(path) == [2, 3]
    # current read intact (the three upserts overwrote keys 0-2);
    # expired ids now unreadable
    got = {r.k: r.v for r in T.read_snapshot(spark, path).collect()}
    assert len(got) == 60 and got[2] == 12347
    with pytest.raises(FileNotFoundError):
        T.read_snapshot(spark, path, snapshot=0)
    # every remaining data file is referenced by a live manifest
    live = {f["name"] for s in T.list_snapshots(path)
            for f in T._load_manifest(path, s)["files"]}
    assert set(os.listdir(T._data_dir(path))) == live


def test_stats_pruning_skips_files_losslessly(spark, tmp_path):
    """File-level column stats: a range-clustered table prunes a
    selective range read down to O(result) files, and the pruned read
    returns exactly the full-scan filter result (lossless candidates)."""
    path = str(tmp_path / "t")
    df = _mk(spark, 800).repartitionByRange(8, F.col("k"))
    T.snapshot_create(df, path)
    man = T._load_manifest(path, T.current_snapshot(path))
    assert all("k" in (f.get("stats") or {}) for f in man["files"])
    total = len(man["files"])
    assert total == 8
    hit = T.snapshot_files(path, where=[("k", 100, 199)])
    assert 1 <= len(hit) <= 2  # 100 keys out of 800 over 8 range files
    got = (
        T.read_snapshot(spark, path, where=[("k", 100, 199)])
        .where("k BETWEEN 100 AND 199")
    )
    assert sorted(r.k for r in got.collect()) == list(range(100, 200))
    # open bounds and no-stats columns never over-prune
    assert len(T.snapshot_files(path, where=[("k", None, None)])) == total
    assert len(T.snapshot_files(path, where=[("nosuch", 0, 1)])) == total


def test_schema_evolution_append_upsert_time_travel(spark, tmp_path):
    """Add-column evolution: appends/upserts may carry new columns;
    current reads null-fill old files, time travel reads the OLD
    schema, and a same-name type change is rejected."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 0, 10), (2, 1, 20)], "k long, part long, v long")
    s0 = T.snapshot_create(base, path, partition_col="part")
    evolved = spark.createDataFrame(
        [(3, 0, 30, "web")], "k long, part long, v long, src string")
    T.snapshot_append(evolved, path)
    cur = T.read_snapshot(spark, path)
    assert cur.columns == ["k", "part", "v", "src"]
    got = {r.k: r.src for r in cur.collect()}
    assert got == {1: None, 2: None, 3: "web"}
    # time travel: snapshot 0 still reads with its own (old) schema
    old = T.read_snapshot(spark, path, snapshot=s0)
    assert old.columns == ["k", "part", "v"]
    assert old.count() == 2
    # upsert with the evolved schema rewrites only part 1
    ups = spark.createDataFrame(
        [(2, 1, 99, "api")], "k long, part long, v long, src string")
    T.snapshot_upsert(ups, path, key="k")
    got2 = {r.k: (r.v, r.src) for r in
            T.read_snapshot(spark, path).collect()}
    assert got2 == {1: (10, None), 2: (99, "api"), 3: (30, "web")}
    # type change is a rejected evolution
    bad = spark.createDataFrame([(4, 0, "oops")], "k long, part long, v string")
    with pytest.raises(ValueError, match="schema evolution rejected"):
        T.snapshot_append(bad, path)


def test_incremental_changes_append_only_and_rewrite_guard(spark, tmp_path):
    """snapshot_changes returns exactly the appended rows between two
    commits, composes with schema evolution, yields an empty typed
    frame for a no-op range, and refuses ranges crossing a rewrite."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 0, 10), (2, 1, 20)], "k long, part long, v long")
    s0 = T.snapshot_create(base, path, partition_col="part")
    b1 = spark.createDataFrame([(3, 0, 30)], "k long, part long, v long")
    s1 = T.snapshot_append(b1, path)
    b2 = spark.createDataFrame(
        [(4, 1, 40, "web")], "k long, part long, v long, src string")
    s2 = T.snapshot_append(b2, path)
    got = T.snapshot_changes(spark, path, s0, s2)
    assert got.columns == ["k", "part", "v", "src"]
    assert {(r.k, r.src) for r in got.collect()} == {(3, None), (4, "web")}
    assert {r.k for r in T.snapshot_changes(spark, path, s1).collect()} \
        == {4}
    empty = T.snapshot_changes(spark, path, s2, s2)
    assert empty.count() == 0 and empty.columns == ["k", "part", "v", "src"]
    # a copy-on-write upsert rewrites part 0: the range is no longer
    # row-representable
    ups = spark.createDataFrame(
        [(1, 0, 99, "fix")], "k long, part long, v long, src string")
    s3 = T.snapshot_upsert(ups, path, key="k")
    with pytest.raises(ValueError, match="crosses a rewrite"):
        T.snapshot_changes(spark, path, s0, s3)
    # but the post-rewrite frontier starts a fresh append-only range
    b3 = spark.createDataFrame(
        [(5, 1, 50, "api")], "k long, part long, v long, src string")
    T.snapshot_append(b3, path)
    assert {r.k for r in T.snapshot_changes(spark, path, s3).collect()} \
        == {5}


def test_bloom_point_lookup_skips_unclustered_files(spark, tmp_path):
    """Bloom file skipping: on a table HASH-distributed on k (min/max
    stats useless — every file spans the domain), an equality lookup
    prunes to the file(s) actually containing the key; absent columns
    never over-prune; the table property is inherited by appends."""
    path = str(tmp_path / "t")
    df = _mk(spark, 800).repartition(8, F.col("k"))
    T.snapshot_create(df, path, bloom_cols=["k"])
    man = T._load_manifest(path, T.current_snapshot(path))
    assert all("k" in (f.get("blooms") or {}) for f in man["files"])
    total = len(man["files"])
    assert total == 8
    # range stats cannot prune a hash layout (files span the domain)
    assert len(T.snapshot_files(path, where=[("k", 123, 123)])) >= 6
    hit = T.snapshot_files(path, where_eq=[("k", 123)])
    assert 1 <= len(hit) <= 3  # true file + rare false positives
    got = T.read_snapshot(spark, path, where_eq=[("k", 123)]) \
        .where("k = 123")
    assert [r.k for r in got.collect()] == [123]
    assert len(T.snapshot_files(path, where_eq=[("v", 1230)])) == total
    # inherited by append; new key resolves to the appended file
    T.snapshot_append(
        spark.createDataFrame([(9001, 5, 1)],
                              "k long, part long, v long"), path)
    hit2 = T.snapshot_files(path, where_eq=[("k", 9001)])
    assert 1 <= len(hit2) <= 3
    assert T.read_snapshot(spark, path, where_eq=[("k", 9001)]) \
        .where("k = 9001").count() == 1


def test_concurrent_commit_collision_raises_not_overwrites(
        spark, tmp_path, monkeypatch):
    """Two writers racing one snapshot id: the second link(2) fails
    loudly (ConcurrentCommitError), the winner's manifest is untouched,
    and the loser's data files are invisible orphans that vacuum
    reclaims — never a silently lost commit."""
    path = str(tmp_path / "t")
    T.snapshot_create(_mk(spark, 40), path, partition_col="part")
    stale = T.list_snapshots(path)  # both writers read [0]
    monkeypatch.setattr(T, "list_snapshots", lambda p: stale)
    b = spark.createDataFrame([(900, 1, 9)], "k long, part long, v long")
    s1 = T.snapshot_append(b, path)  # writer A claims snapshot 1
    assert s1 == 1
    winner = T._load_manifest(path, 1)
    c = spark.createDataFrame([(901, 2, 9)], "k long, part long, v long")
    with pytest.raises(T.ConcurrentCommitError):
        T.snapshot_append(c, path)   # writer B also computes sid 1
    assert T._load_manifest(path, 1) == winner  # untouched
    monkeypatch.undo()
    orphans = T.vacuum(path)
    assert len(orphans) >= 1  # loser's files reclaimed
    # loser retries against the fresh state and succeeds
    s2 = T.snapshot_append(c, path)
    assert s2 == 2
    got = {r.k for r in T.read_snapshot(spark, path).collect()}
    assert {900, 901} <= got and len(got) == 42


def test_metadata_agg_opens_no_data_files(spark, tmp_path):
    """snapshot_metadata_agg (q142): per-partition counts and min/max
    answered with the data directory made UNREADABLE — proof the
    aggregation is manifest-only; values equal the scan's; requesting
    a stats-less (string) column raises instead of guessing; float
    stats keep their type; time travel reads the OLD manifest."""
    path = str(tmp_path / "t")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("part"),
        (F.col("id") * 10).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("name"),
        (F.col("id") / 4.0).alias("x"),
    )
    T.snapshot_create(df, path, partition_col="part")
    T.snapshot_append(
        spark.createDataFrame([(9000, 1, 77777, "s9000", -1.5)],
                              "k long, part long, v long, "
                              "name string, x double"),
        path,
    )

    datadir = T._data_dir(path)
    os.chmod(datadir, 0o000)
    try:
        got = {r.partition: (r.n_rows, r.min_v, r.max_v, r.min_x, r.max_x)
               for r in T.snapshot_metadata_agg(
                   spark, path, cols=["v", "x"]).collect()}
        with pytest.raises(ValueError, match="no stats"):
            T.snapshot_metadata_agg(spark, path, cols=["name"])
        old = {r.partition: r.n_rows
               for r in T.snapshot_metadata_agg(spark, path,
                                                snapshot=0).collect()}
    finally:
        os.chmod(datadir, 0o755)

    exp = {
        str(p): (n, mv, xv, mnx, mxx)
        for p, n, mv, xv, mnx, mxx in df.unionByName(
            spark.createDataFrame(
                [(9000, 1, 77777, "s9000", -1.5)],
                "k long, part long, v long, name string, x double"))
        .groupBy("part")
        .agg(F.count("*"), F.min("v"), F.max("v"), F.min("x"), F.max("x"))
        .collect()
    }
    assert got == exp
    assert old == {"0": 100, "1": 100, "2": 100}


def test_equality_deletes_merge_on_read(spark, tmp_path):
    """snapshot_delete (q143): rows vanish at read time without any
    data-file rewrite; time travel before the delete still sees them;
    a re-append of a deleted key RESURRECTS it (sequence-number
    scoping); a second delete on a different column composes; replayed
    commit_ids are no-ops."""
    path = str(tmp_path / "t")
    df = _mk(spark, 100)
    s0 = T.snapshot_create(df, path, partition_col="part")
    files0 = {f["name"] for f in T.snapshot_files(path, s0)}

    s1 = T.snapshot_delete(path, "k", [5, 6, 7, 9000])
    assert {f["name"] for f in T.snapshot_files(path, s1)} == files0
    cur = {r.k for r in T.read_snapshot(spark, path).collect()}
    assert cur == set(range(100)) - {5, 6, 7}
    old = {r.k for r in T.read_snapshot(spark, path, snapshot=s0).collect()}
    assert old == set(range(100))

    # re-append k=5 with a new value: newer seq -> survives the delete
    T.snapshot_append(
        spark.createDataFrame([(5, 5 % 7, 555)], "k long, part long, v long"),
        path)
    got = {r.k: r.v for r in T.read_snapshot(spark, path).collect()}
    assert got[5] == 555 and 6 not in got and len(got) == 98

    # delete on a second column (v) composes with the first
    T.snapshot_delete(path, "v", [555, 120])
    left = {r.k for r in T.read_snapshot(spark, path).collect()}
    assert 5 not in left and 12 not in left and 13 in left

    # replay: same commit_id commits nothing new
    n = len(T.list_snapshots(path))
    sid = T.snapshot_delete(path, "k", [1], commit_id="del-once")
    assert T.snapshot_delete(path, "k", [1], commit_id="del-once") == sid
    assert len(T.list_snapshots(path)) == n + 1


def test_deletes_materialize_on_rewrite_and_guard_side_effects(
        spark, tmp_path):
    """Equality deletes vs the rest of the format: copy-on-write upsert
    and compaction MATERIALIZE deletes into the partitions they
    rewrite (content identical before/after, and the rewritten rows'
    fresh seq ends the delete's scope); incremental reads crossing a
    delete commit refuse (append-only contract); metadata aggregation
    refuses while deletes are pending; vacuum never reclaims a live
    delete file."""
    path = str(tmp_path / "t")
    # fragment part 0: several small appends
    T.snapshot_create(_mk(spark, 40).coalesce(1), path,
                      partition_col="part")
    for i in range(3):
        T.snapshot_append(
            spark.createDataFrame(
                [(1000 + i, 0, i)], "k long, part long, v long"
            ).coalesce(1), path)
    frontier = T.current_snapshot(path)
    T.snapshot_delete(path, "k", [0, 7, 14, 1000])

    with pytest.raises(ValueError, match="delete"):
        T.snapshot_changes(spark, path, frontier)
    with pytest.raises(ValueError, match="delete"):
        T.snapshot_metadata_agg(spark, path)

    before = sorted((r.k, r.v) for r in
                    T.read_snapshot(spark, path).collect())

    # compaction rewrites fragmented part 0 through the delete filter
    sid = T.snapshot_compact(spark, path, target_bytes=1 << 20)
    assert sid is not None
    after = sorted((r.k, r.v) for r in
                   T.read_snapshot(spark, path).collect())
    assert after == before
    man = T._load_manifest(path, sid)
    assert man["deletes"], "delete entries stay carried"
    # the rewritten partition's files are NEWER than the delete
    dseq = man["deletes"][0]["seq"]
    part0 = [f for f in man["files"] if f["partition"] == "0"]
    assert part0 and all(f["seq"] > dseq for f in part0)

    # upsert rewrites a partition -> also applies pending deletes
    T.snapshot_delete(path, "k", [3])
    T.snapshot_upsert(
        spark.createDataFrame([(2000, 3, 1)], "k long, part long, v long"),
        path, key="k")
    ks = {r.k for r in T.read_snapshot(spark, path).collect()}
    assert 3 not in ks and 2000 in ks

    # vacuum with live manifests keeps every referenced delete file
    removed = T.vacuum(path)
    import os as _os
    for s in T.list_snapshots(path):
        for d in T._load_manifest(path, s).get("deletes") or []:
            assert _os.path.exists(
                _os.path.join(T._data_dir(path), d["name"]))
    assert all(not n.startswith("delete-") or True for n in removed)


def test_where_any_range_disjunction_skips_files(spark, tmp_path):
    """snapshot_files(where_any=…) (q146): an OR-of-ranges predicate on
    a range-clustered column prunes to the overlapping files only, a
    no-overlap disjunction prunes EVERYTHING and read_snapshot returns
    an empty TYPED frame (lossless: zero candidates proves empty), and
    a stats-less column never over-prunes."""
    path = str(tmp_path / "t")
    df = spark.range(8000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 100).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("name"),
    )
    T.snapshot_create(df.repartitionByRange(8, F.col("k")), path)
    total = len(T.snapshot_files(path))
    assert total == 8

    # two narrow ranges at opposite ends: 2 files survive
    hit = T.snapshot_files(path, where_any=("k", [(0, 10), (7990, 7999)]))
    assert len(hit) == 2
    got = T.read_snapshot(spark, path,
                          where_any=("k", [(0, 10), (7990, 7999)]))
    ks = {r.k for r in got.where("k <= 10 OR k >= 7990").collect()}
    assert ks == set(range(0, 11)) | set(range(7990, 8000))

    # disjunction with no overlap anywhere -> empty typed frame
    empty = T.read_snapshot(spark, path,
                            where_any=("k", [(100000, 200000)]))
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "v", "name"}

    # no stats for strings -> everything survives (lossless)
    assert len(T.snapshot_files(
        path, where_any=("name", [(0, 1)]))) == total


def test_model_based_random_op_sequence(spark, tmp_path):
    """Model-based check of the whole table format: a SEEDED random
    sequence of append / upsert / delete / compact ops is applied both
    to the snapshot table and to a pure-Python dict model; the read
    must equal the model after EVERY op, historical snapshots must
    replay their recorded states (time travel), and expire+vacuum at
    the end must not change the current read. Deterministic by seed —
    a failure is a real invariant break, never flake."""
    import random

    rng = random.Random(7)
    path = str(tmp_path / "t")

    def mk_rows(items):
        return spark.createDataFrame(
            [(k, k % 5, v) for k, v in items],
            "k long, part long, v long")

    model: dict = {k: k * 10 for k in range(60)}
    T.snapshot_create(mk_rows(model.items()), path, partition_col="part")
    history = {T.current_snapshot(path): dict(model)}
    next_key = 1000

    def check():
        got = {r.k: r.v for r in T.read_snapshot(spark, path).collect()}
        assert got == model, (
            f"live state diverged: {len(got)} vs {len(model)} rows")

    for step in range(12):
        op = rng.choice(["append", "upsert", "delete", "compact"])
        if op == "append":
            fresh = [(next_key + i, (next_key + i) * 7)
                     for i in range(rng.randint(1, 5))]
            next_key += 10
            T.snapshot_append(mk_rows(fresh), path)
            model.update(fresh)
        elif op == "upsert":
            keys = rng.sample(sorted(model), min(4, len(model)))
            ups = [(k, k * 100 + step) for k in keys]
            T.snapshot_upsert(mk_rows(ups), path, key="k")
            model.update(ups)
        elif op == "delete":
            keys = rng.sample(sorted(model), min(3, len(model)))
            T.snapshot_delete(path, "k", keys)
            for k in keys:
                model.pop(k)
        else:
            T.snapshot_compact(spark, path, target_bytes=1 << 20)
        history[T.current_snapshot(path)] = dict(model)
        check()

    # time travel: every retained snapshot replays its recorded state
    for sid in T.list_snapshots(path):
        if sid in history:
            got = {r.k: r.v
                   for r in T.read_snapshot(spark, path,
                                            snapshot=sid).collect()}
            assert got == history[sid], f"time travel diverged at {sid}"

    T.expire_snapshots(path, keep_last=2)
    T.vacuum(path)
    check()


def test_wap_staging_publish_and_tags(spark, tmp_path):
    """WAP + tags (q147): a publish=False append is INVISIBLE to
    current readers but auditable by snapshot id; publish fast-forwards
    exactly once; a publish that is not a fast-forward (the table moved
    since staging) raises; staged commit_id replay does NOT move
    current; tags resolve and survive expire_snapshots."""
    path = str(tmp_path / "t")
    T.snapshot_create(_mk(spark, 50), path, partition_col="part")
    s0 = T.current_snapshot(path)

    batch = spark.createDataFrame(
        [(900, 0, 1), (901, 1, 2)], "k long, part long, v long")
    staged = T.snapshot_append(batch, path, publish=False,
                               commit_id="wap-1")
    assert T.current_snapshot(path) == s0
    assert T.read_snapshot(spark, path).count() == 50
    assert T.read_snapshot(spark, path, snapshot=staged).count() == 52
    # replaying the staged commit must not publish it either
    assert T.snapshot_append(batch, path, publish=False,
                             commit_id="wap-1") == staged
    assert T.current_snapshot(path) == s0

    T.snapshot_publish(path, staged)
    assert T.current_snapshot(path) == staged
    assert T.read_snapshot(spark, path).count() == 52

    # stage, then move the table -> the stale staged commit can't publish
    stale = T.snapshot_append(
        spark.createDataFrame([(902, 0, 3)], "k long, part long, v long"),
        path, publish=False)
    T.snapshot_append(
        spark.createDataFrame([(903, 0, 4)], "k long, part long, v long"),
        path)
    with pytest.raises(ValueError, match="fast-forward"):
        T.snapshot_publish(path, stale)

    # tags: resolve, read, and survive expiry
    T.snapshot_tag(path, "v1", snapshot=s0)
    assert T.read_snapshot(spark, path, tag="v1").count() == 50
    for i in range(3):
        T.snapshot_append(
            spark.createDataFrame([(910 + i, 0, i)],
                                  "k long, part long, v long"), path)
    expired = T.expire_snapshots(path, keep_last=2)
    assert s0 not in expired
    assert T.read_snapshot(spark, path, tag="v1").count() == 50
    with pytest.raises(FileNotFoundError, match="tag"):
        T.read_snapshot(spark, path, tag="nope")


def test_branch_commits_isolate_and_fast_forward(spark, tmp_path):
    """Branches (q148): commits on a branch advance the branch head
    only (main frozen); fast-forward publishes the whole run; a
    non-ancestor fast-forward (main moved since the cut) raises;
    commit_id replay on a branch moves the BRANCH only by fast-forward,
    never main;
    branch heads survive expire_snapshots; unknown branch raises."""
    path = str(tmp_path / "t")
    T.snapshot_create(_mk(spark, 40), path, partition_col="part")
    s0 = T.current_snapshot(path)

    T.snapshot_branch(path, "audit")
    assert T.list_branches(path) == {"audit": s0}

    b1 = spark.createDataFrame(
        [(900, 0, 1), (901, 1, 2)], "k long, part long, v long")
    b2 = spark.createDataFrame(
        [(902, 2, 3)], "k long, part long, v long")
    h1 = T.snapshot_append(b1, path, branch="audit", commit_id="br-1")
    h2 = T.snapshot_append(b2, path, branch="audit")
    assert T.current_snapshot(path) == s0
    assert T.read_snapshot(spark, path).count() == 40
    assert T.read_snapshot(spark, path, branch="audit").count() == 43
    assert T.resolve_branch(path, "audit") == h2

    # replaying the first branch commit finds it (idempotent commit),
    # keeps the newer head h2 built on it, and never touches main
    assert T.snapshot_append(b1, path, branch="audit",
                             commit_id="br-1") == h1
    assert T.resolve_branch(path, "audit") == h2
    assert T.current_snapshot(path) == s0

    ff = T.snapshot_fast_forward(path, "audit")
    assert ff == h2 and T.current_snapshot(path) == h2
    assert T.read_snapshot(spark, path).count() == 43
    # fast-forward is idempotent once main == head
    assert T.snapshot_fast_forward(path, "audit") == h2

    # cut a branch, then move main -> the branch is no longer a
    # fast-forward and publishing it must refuse
    T.snapshot_branch(path, "stale")
    T.snapshot_append(
        spark.createDataFrame([(903, 0, 4)], "k long, part long, v long"),
        path)
    T.snapshot_append(
        spark.createDataFrame([(904, 0, 5)], "k long, part long, v long"),
        path, branch="stale")
    with pytest.raises(ValueError, match="fast-forward"):
        T.snapshot_fast_forward(path, "stale")

    # branch heads are refs: expiry keeps them readable
    stale_head = T.resolve_branch(path, "stale")
    for i in range(3):
        T.snapshot_append(
            spark.createDataFrame([(910 + i, 0, i)],
                                  "k long, part long, v long"), path)
    expired = T.expire_snapshots(path, keep_last=2)
    assert stale_head not in expired
    assert T.read_snapshot(spark, path, branch="stale").count() == 44

    with pytest.raises(FileNotFoundError, match="branch"):
        T.read_snapshot(spark, path, branch="nope")
    with pytest.raises(ValueError, match="at most one"):
        T.read_snapshot(spark, path, tag="x", branch="y")


def test_rewrite_sorted_enables_pruning_and_carries_content(
        spark, tmp_path):
    """snapshot_rewrite_sorted (q150): a hash-distributed table where
    every file spans the full value range (stats prune nothing) is
    re-clustered so a narrow range read skips most files; content is
    carried row-for-row; time travel still reads the OLD layout;
    snapshot_changes across the rewrite refuses (append-only guard);
    pending equality deletes MATERIALIZE (the manifest's delete list
    empties and a re-appended key survives); commit_id replay
    repoints."""
    path = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
    ).repartition(8, "k")  # hash layout: v spans [0, 1197] everywhere
    T.snapshot_create(df, path)
    s0 = T.current_snapshot(path)
    assert len(T.snapshot_files(path)) == 8
    # stats exist but prune nothing on this layout (51 of 400 ids fall
    # in the probe range — every hash file holds several of them)
    assert len(T.snapshot_files(path, where=[("v", 0, 150)])) == 8

    T.snapshot_delete(path, "k", [7])
    total = sum(f["bytes"] for f in T.snapshot_files(path))
    sid = T.snapshot_rewrite_sorted(spark, path, "v",
                                    target_bytes=max(1, total // 8),
                                    commit_id="rw-1")
    # replay is a no-op repoint
    assert T.snapshot_rewrite_sorted(spark, path, "v",
                                     commit_id="rw-1") == sid

    # narrow range now touches a small fraction of the files
    n_all = len(T.snapshot_files(path))
    n_hit = len(T.snapshot_files(path, where=[("v", 0, 150)]))
    assert n_all >= 6 and n_hit <= 2, (n_all, n_hit)

    # content carried row-for-row, with the delete materialized
    got = sorted((r.k, r.v) for r in
                 T.read_snapshot(spark, path).collect())
    assert got == [(i, i * 3) for i in range(400) if i != 7]
    assert T._load_manifest(path, sid)["deletes"] == []
    # re-append the deleted key: no delete entry is left to re-apply
    T.snapshot_append(
        spark.createDataFrame([(7, 21)], "k long, v long"), path)
    assert T.read_snapshot(spark, path).count() == 400

    # time travel: the pre-rewrite snapshot still reads the old layout
    assert len(T.snapshot_files(path, snapshot=s0)) == 8
    assert T.read_snapshot(spark, path, snapshot=s0).count() == 400

    # changelog across the rewrite refuses rather than double-counts
    with pytest.raises(ValueError):
        T.snapshot_changes(spark, path, s0, sid)


def test_rollback_repoints_and_forks_history(spark, tmp_path):
    """snapshot_rollback: one pointer swap back to any committed
    snapshot; the abandoned tip stays time-travelable; a write after
    the rollback parents on the rolled-back snapshot (forked history,
    the bad-batch undo); rolling back to an uncommitted id raises."""
    path = str(tmp_path / "t")
    T.snapshot_create(_mk(spark, 30), path, partition_col="part")
    s0 = T.current_snapshot(path)
    bad = T.snapshot_append(
        spark.createDataFrame([(900, 0, -1)], "k long, part long, v long"),
        path)
    assert T.read_snapshot(spark, path).count() == 31

    assert T.snapshot_rollback(path, s0) == s0
    assert T.current_snapshot(path) == s0
    assert T.read_snapshot(spark, path).count() == 30
    # the bad batch is still time-travelable until expiry
    assert T.read_snapshot(spark, path, snapshot=bad).count() == 31

    # a new write forks: its parent is s0, not the abandoned tip
    fix = T.snapshot_append(
        spark.createDataFrame([(901, 0, 1)], "k long, part long, v long"),
        path)
    assert T._load_manifest(path, fix)["parent"] == s0

    with pytest.raises(FileNotFoundError):
        T.snapshot_rollback(path, 999)


def test_merge_into_clause_order_and_carryover(spark, tmp_path):
    """snapshot_merge_into (q154): delete clause wins over update on
    matched rows, update only fires when its condition holds, unmatched
    targets survive, unmatched sources insert (or drop under
    insert=False); untouched partitions are carried by file REFERENCE
    and commit_id replays repoint without rewriting."""
    path = str(tmp_path / "t")
    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40),
         (5, "c", 50)],
        "k int, p string, v int")
    T.snapshot_create(tgt, path, partition_col="p")
    before_c = {f["name"] for f in T.snapshot_files(path)
                if f["partition"] == "c"}
    src = spark.createDataFrame(
        [(1, "a", -99),   # matched + delete_condition -> removed
         (2, "a", 25),    # matched + s.v > t.v        -> updated
         (3, "b", 7),     # matched, update cond false -> kept
         (9, "b", 90)],   # unmatched source           -> inserted
        "k int, p string, v int")
    T.snapshot_merge_into(src, path, "k",
                          delete_condition="s.v < 0",
                          update_condition="s.v > t.v")
    got = sorted((r.k, r.p, r.v)
                 for r in T.read_snapshot(spark, path).collect())
    assert got == [(2, "a", 25), (3, "b", 30), (4, "b", 40),
                   (5, "c", 50), (9, "b", 90)]
    after_c = {f["name"] for f in T.snapshot_files(path)
               if f["partition"] == "c"}
    assert before_c == after_c  # untouched partition never rewritten

    # insert=False: unmatched source rows dropped, matched still merge
    src2 = spark.createDataFrame([(100, "a", 1), (2, "a", 999)],
                                 "k int, p string, v int")
    sid = T.snapshot_merge_into(src2, path, "k", insert=False,
                                commit_id="m1")
    got2 = {r.k: r.v for r in T.read_snapshot(spark, path).collect()}
    assert got2[2] == 999 and 100 not in got2
    assert T.snapshot_merge_into(src2, path, "k", insert=False,
                                 commit_id="m1") == sid


def test_merge_into_materializes_pending_deletes_in_touched_partitions(
        spark, tmp_path):
    """A pending equality delete stays masked everywhere: rewritten
    partitions materialize it (fresh seq ends its scope), untouched
    partitions keep masking it through the carried delete entry — and a
    merge INSERT of a previously deleted key resurrects it (the q143
    seq-scoping contract)."""
    path = str(tmp_path / "t")
    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)],
        "k int, p string, v int")
    T.snapshot_create(tgt, path, partition_col="p")
    T.snapshot_delete(path, "k", [1, 3])
    # merge touches only partition "a": updates k=2, re-inserts k=1
    src = spark.createDataFrame([(2, "a", 99), (1, "a", 11)],
                                "k int, p string, v int")
    T.snapshot_merge_into(src, path, "k")
    got = sorted((r.k, r.v)
                 for r in T.read_snapshot(spark, path).collect())
    # k=1 resurrected by the merge insert (its file seq > delete seq);
    # k=3 still masked by the carried delete entry in untouched "b"
    assert got == [(1, 11), (2, 99), (4, 40)]


def _mk_evo(spark, lo, hi):
    return spark.range(lo, hi).repartition(1).select(
        F.col("id").alias("k"),
        (F.col("id") % 8).alias("b8"),
        (F.col("id") % 5).alias("b5"),
        (F.col("id") * 10).alias("v"),
    )


def test_partition_evolution_spec_aware(spark, tmp_path):
    """q158: evolve is metadata-only (files carried by NAME); new-spec
    values prune new files exactly while old-spec files always survive
    (lossless); time travel keeps the OLD spec's exact pruning;
    partition-bounded ops refuse on mixed specs; rewrite_partitions
    materializes ONLY the old-spec files (new ones carried by name),
    restores exact pruning, and is an idempotent no-op the second
    time."""
    path = str(tmp_path / "t")
    s0 = T.snapshot_create(_mk_evo(spark, 0, 200), path,
                           partition_col="b8")
    names0 = {f["name"] for f in T.snapshot_files(path)}
    assert len(names0) == 8

    s1 = T.snapshot_evolve_partition(path, "b5")
    assert {f["name"] for f in T.snapshot_files(path)} == names0
    # no-op evolve to the same column returns current, commits nothing
    assert T.snapshot_evolve_partition(path, "b5") == s1
    with pytest.raises(ValueError):
        T.snapshot_evolve_partition(path, "nope")

    T.snapshot_append(_mk_evo(spark, 200, 300), path)
    files = T.snapshot_files(path)
    assert len(files) == 13  # 8 old-spec + 5 new-spec (one per b5)

    # new-spec pruning: 8 old-spec survivors (candidate) + 1 b5=3 file
    pruned = T.snapshot_files(path, partitions=[3])
    assert len(pruned) == 9
    specs = {f.get("spec_col") for f in pruned}
    assert specs == {"b8", "b5"}

    got = sorted(r.k for r in T.read_snapshot(spark, path,
                                              partitions=[3])
                 .where("b5 = 3").collect())
    assert got == [k for k in range(300) if k % 5 == 3]

    # time travel to the pre-evolution snapshot: OLD spec prunes exactly
    assert len(T.snapshot_files(path, snapshot=s0, partitions=[3])) == 1

    # partition-bounded ops refuse while specs are mixed
    upd = _mk_evo(spark, 0, 1)
    with pytest.raises(ValueError, match="rewrite_partitions"):
        T.snapshot_upsert(upd, path, "k")
    with pytest.raises(ValueError, match="rewrite_partitions"):
        T.snapshot_merge_into(upd, path, "k")
    with pytest.raises(ValueError, match="rewrite_partitions"):
        T.snapshot_metadata_agg(spark, path, ["v"])

    # materialize: new-spec files carried BY NAME, old ones rewritten
    new_names = {f["name"] for f in T.snapshot_files(path)
                 if f.get("spec_col") == "b5"}
    sid = T.snapshot_rewrite_partitions(spark, path)
    after = T.snapshot_files(path)
    assert new_names <= {f["name"] for f in after}
    assert all(f.get("spec_col") == "b5" for f in after)
    assert not (names0 & {f["name"] for f in after})
    # exact pruning again, and content identical
    assert {f["partition"] for f in
            T.snapshot_files(path, partitions=[3])} == {"3"}
    got2 = sorted(r.k for r in T.read_snapshot(spark, path,
                                               partitions=[3])
                  .where("b5 = 3").collect())
    assert got2 == got
    # idempotent no-op; bounded ops work again
    assert T.snapshot_rewrite_partitions(spark, path) is None
    T.snapshot_upsert(upd.withColumn("v", F.lit(999).cast("long")),
                      path, "k")
    assert T.read_snapshot(spark, path).where("k = 0") \
        .collect()[0].v == 999
    assert sid == T.list_snapshots(path)[-2]


def test_partition_evolution_with_pending_deletes(spark, tmp_path):
    """rewrite_partitions reads old-spec files merge-on-read: a pending
    equality delete on an old-spec row materializes (its fresh seq ends
    the scope), while carried new-spec files keep their masking delete
    entries — final content equals the delete-applied table."""
    path = str(tmp_path / "t")
    T.snapshot_create(_mk_evo(spark, 0, 40), path, partition_col="b8")
    T.snapshot_evolve_partition(path, "b5")
    T.snapshot_append(_mk_evo(spark, 40, 60), path)
    # k=7 lives in an old-spec file, k=44 in a new-spec file
    T.snapshot_delete(path, "k", [7, 44])
    T.snapshot_rewrite_partitions(spark, path)
    got = sorted(r.k for r in T.read_snapshot(spark, path).collect())
    assert got == [k for k in range(60) if k not in (7, 44)]


def test_as_of_timestamp_time_travel(spark, tmp_path):
    """R136: commit stamps are strictly increasing; as-of resolution
    picks the newest snapshot at-or-before the timestamp, raises
    before the first commit, and read_snapshot(as_of_us=...) rejects
    combination with snapshot=."""
    path = str(tmp_path / "t")
    s0 = T.snapshot_create(_mk(spark, 10), path)
    s1 = T.snapshot_append(_mk(spark, 10), path)
    s2 = T.snapshot_append(_mk(spark, 10), path)
    ts = {s: T._load_manifest(path, s)["committed_at_us"]
          for s in (s0, s1, s2)}
    assert ts[s0] < ts[s1] < ts[s2]
    assert T.snapshot_as_of(path, ts[s0]) == s0
    assert T.snapshot_as_of(path, ts[s1] - 1) == s0
    assert T.snapshot_as_of(path, ts[s2] + 10**9) == s2
    with pytest.raises(ValueError):
        T.snapshot_as_of(path, ts[s0] - 1)
    assert T.read_snapshot(spark, path, as_of_us=ts[s1]).count() == 20
    with pytest.raises(ValueError):
        T.read_snapshot(spark, path, snapshot=s0, as_of_us=ts[s1])


def test_all_null_file_pruning_and_null_metadata(spark, tmp_path):
    """R136: a file whose predicate column is NULL in every row is
    pruned by its footer null count (lossless — a range predicate
    never matches NULL) even though it has no min/max stats; the
    filtered read equals the plain filter; metadata_agg(null_cols=)
    answers exact per-partition null counts and raises for columns
    without footer null counts."""
    path = str(tmp_path / "t")
    withnull = spark.range(0, 50).selectExpr(
        "id AS k", "id * 10 AS v", "CAST(NULL AS BIGINT) AS v2")
    withval = spark.range(50, 100).selectExpr(
        "id AS k", "id * 10 AS v", "id * 2 AS v2")
    T.snapshot_create(withnull.coalesce(1), path)
    T.snapshot_append(withval.coalesce(1), path)
    files = T.snapshot_files(path)
    assert len(files) == 2
    pruned = T.snapshot_files(path, where=[("v2", 0, None)])
    assert len(pruned) == 1
    got = sorted(r.k for r in
                 T.read_snapshot(spark, path, where=[("v2", 100, 120)])
                 .where("v2 BETWEEN 100 AND 120").collect())
    assert got == list(range(50, 61))
    agg = T.snapshot_metadata_agg(spark, path, null_cols=["v2"])
    assert [tuple(r) for r in agg.collect()] == [(None, 2, 100, 50)]
    with pytest.raises(ValueError):
        T.snapshot_metadata_agg(spark, path, null_cols=["nope"])


def test_mv_sync_incremental_maintenance(spark, tmp_path):
    """mv_sync (q170): the incremental path reads ONLY the appended
    files (inputFiles of the changelog), rewrites only touched MV
    partitions (untouched carried by NAME), equals a full recompute,
    is a no-op when up to date, replays idempotently after a lost
    pointer, and REFUSES (via snapshot_changes) after a base rewrite
    in the sync window."""
    from osmcha_spark.operators.incremental import mv_sync

    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id AS k", "id % 4 AS g", "id * 3 AS cents")
    T.snapshot_create(mk(0, 100), base, partition_col="g")
    assert mv_sync(spark, base, mv, "g", "cents") is not None
    # up to date -> None
    assert mv_sync(spark, base, mv, "g", "cents") is None

    # append rows touching ONLY groups 0 and 1 (ids ≡ 0,1 mod 4)
    extra = spark.createDataFrame(
        [(1000, 0, 7), (1001, 1, 9)], "k long, g long, cents long")
    T.snapshot_append(extra, base)
    mv_man0 = T._load_manifest(mv, T.current_snapshot(mv))
    sid = mv_sync(spark, base, mv, "g", "cents")
    assert sid is not None
    mv_man1 = T._load_manifest(mv, sid)
    untouched0 = {f["name"] for f in mv_man0["files"]
                  if f["partition"] in ("2", "3")}
    untouched1 = {f["name"] for f in mv_man1["files"]
                  if f["partition"] in ("2", "3")}
    assert untouched0 == untouched1 and untouched0

    # equals the full recompute
    want = {(r.g, r.n, r.s) for r in
            T.read_snapshot(spark, base)
            .groupBy("g")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("cents").cast("long").alias("s")).collect()}
    got = {(r.g, r.n_rows, r.sum_cents) for r in
           T.read_snapshot(spark, mv).collect()}
    assert got == want

    # replay after a lost pointer: repoints, never double-counts
    T._point_current(mv, T.list_snapshots(mv)[0])
    sid2 = mv_sync(spark, base, mv, "g", "cents")
    assert sid2 == sid
    got2 = {(r.g, r.n_rows, r.sum_cents) for r in
            T.read_snapshot(spark, mv).collect()}
    assert got2 == want

    # a base rewrite inside the window refuses rather than miscount
    T.snapshot_upsert(spark.createDataFrame([(0, 0, 999)],
                                            "k long, g long, cents long"),
                      base, "k")
    with pytest.raises(ValueError, match="rewrite|append-only"):
        mv_sync(spark, base, mv, "g", "cents")


def test_position_deletes_scope_and_materialization(spark, tmp_path):
    p = str(tmp_path / "pos")
    df = spark.range(20).selectExpr("id", "id % 3 as g", "id * 10 as v")
    s0 = T.snapshot_create(df, p, partition_col="g")
    r = T.read_snapshot(spark, p, with_pos=True)
    assert r.columns[-2:] == ["_file", "_pos"]
    tgt = [(row._file, row._pos) for row in r.where("v % 40 = 0").collect()]
    s1 = T.snapshot_delete_positions(p, tgt, commit_id="pd-1")
    # no data-file rewrite: the file set is carried by reference
    assert sorted(f["name"] for f in T.snapshot_files(p, s0)) == \
        sorted(f["name"] for f in T.snapshot_files(p, s1))
    exp = sorted(i for i in range(20) if (i * 10) % 40 != 0)
    assert sorted(
        x.id for x in T.read_snapshot(spark, p).collect()) == exp
    # replay repoints, never re-commits
    assert T.snapshot_delete_positions(p, tgt, commit_id="pd-1") == s1
    # file-identity scope: re-appended ids live in NEW files -> visible
    T.snapshot_append(
        spark.range(4).selectExpr("id", "id % 3 as g", "id * 10 as v"), p)
    assert sorted(
        x.id for x in T.read_snapshot(spark, p).collect()
    ) == sorted(exp + [0, 1, 2, 3])
    # time travel composes: s0 still reads the pre-delete rows
    assert T.read_snapshot(spark, p, snapshot=s0).count() == 20
    # metadata agg / incremental reads refuse while a delete is pending
    with pytest.raises(ValueError, match="delete"):
        T.snapshot_metadata_agg(spark, p, ["v"])
    with pytest.raises(ValueError, match="delete"):
        T.snapshot_changes(spark, p, s0)
    # compaction materializes: read identical, and a fresh pos read
    # shows the deleted ordinals are GONE from the new files
    before = sorted((x.id, x.v) for x in T.read_snapshot(spark, p).collect())
    T.snapshot_compact(spark, p)
    after = sorted((x.id, x.v) for x in T.read_snapshot(spark, p).collect())
    assert before == after


def test_position_delete_validation_and_composition(spark, tmp_path):
    p = str(tmp_path / "posv")
    df = spark.range(12).selectExpr("id", "id % 2 as g", "id * 10 as v")
    T.snapshot_create(df, p, partition_col="g")
    with pytest.raises(ValueError, match="not in snapshot"):
        T.snapshot_delete_positions(p, [("nope.parquet", 0)])
    cur = T.current_snapshot(p)
    assert T.snapshot_delete_positions(p, []) == cur
    r = T.read_snapshot(spark, p, with_pos=True)
    tgt = [(row._file, row._pos) for row in r.where("id < 3").collect()]
    T.snapshot_delete_positions(p, tgt)
    # with_pos read composes with a pending pos delete: survivors only,
    # and their (file, pos) stay valid for a SECOND position delete
    r2 = T.read_snapshot(spark, p, with_pos=True)
    assert r2.where("id < 3").count() == 0
    tgt2 = [(row._file, row._pos) for row in r2.where("id = 5").collect()]
    T.snapshot_delete_positions(p, tgt2)
    # equality + position deletes apply together
    T.snapshot_delete(p, "id", [7])
    assert sorted(x.id for x in T.read_snapshot(spark, p).collect()) == \
        [3, 4, 6, 8, 9, 10, 11]


def test_snapshot_history_and_files_metadata_tables(spark, tmp_path):
    p = str(tmp_path / "hist")
    df = spark.range(30).selectExpr("id", "id % 3 as g", "id * 2 as v")
    s0 = T.snapshot_create(df, p, partition_col="g", commit_id="c0")
    T.snapshot_delete(p, "id", [1, 2])
    T.snapshot_append(
        spark.range(5).selectExpr("id + 100 as id", "id % 3 as g",
                                  "id as v"), p)
    # metadata-only: answers survive an unreadable data dir
    dd = os.path.join(p, "data")
    os.chmod(dd, 0)
    try:
        h = {r.snapshot: r for r in T.snapshot_history(spark, p).collect()}
        f = T.snapshot_files_df(spark, p).collect()
    finally:
        os.chmod(dd, 0o755)
    assert [h[s].parent for s in sorted(h)] == [None, 0, 1]
    assert h[s0].commit_id == "c0"
    assert (h[0].n_rows, h[0].added_rows, h[0].n_deletes) == (30, 30, 0)
    # MoR delete commit: manifest rows unchanged, nothing added
    assert (h[1].n_rows, h[1].added_rows, h[1].n_deletes) == (30, 0, 1)
    assert (h[2].n_rows, h[2].added_rows) == (35, 5)
    # commit stamps strictly increase
    ts = [h[s].committed_at_us for s in sorted(h)]
    assert ts == sorted(ts) and len(set(ts)) == 3
    # files table mirrors the manifest entries exactly
    man = [e["name"] for e in T.snapshot_files(p)]
    assert sorted(r.name for r in f) == sorted(man)
    assert sum(r.n_rows for r in f) == 35
    assert {r.seq for r in f} == {0, 2}


def test_hidden_partition_transforms(spark, tmp_path):
    """Iceberg-spec hidden partitioning (bucket[N] / truncate[W]):
    writers derive the partition, reads prune from SOURCE-column
    predicates (pinned skip counts), pruning is lossless, appends
    inherit the transform, compaction works, and partition-bounded
    rewrites refuse."""
    import pytest

    # bucket(4, k): point lookups prune to one bucket in four
    pb = str(tmp_path / "bucket")
    df = spark.range(0, 200).selectExpr("id", "id % 37 AS k", "id * 2 AS v")
    T.snapshot_create(df.coalesce(1), pb,
                      partition_transform=("bucket", 4, "k"))
    T.snapshot_append(
        spark.range(200, 300).selectExpr("id", "id % 37 AS k", "id * 2 AS v")
        .coalesce(1), pb)
    allf = T.snapshot_files(pb)
    assert sorted({f["partition"] for f in allf}) == ["0", "1", "2", "3"]
    assert len(allf) == 8  # 4 buckets x 2 commits (coalesced writes)
    pruned = T.snapshot_files(pb, where_eq=[("k", 5)])
    import hashlib
    want = str(int(hashlib.md5(b"5").hexdigest()[:15], 16) % 4)
    assert {f["partition"] for f in pruned} == {want} and len(pruned) == 2
    got = (T.read_snapshot(spark, pb, where_eq=[("k", 5)])
           .where("k = 5").count())
    assert got == sum(1 for i in range(300) if i % 37 == 5)
    # an eq predicate on a NON-source column does not transform-prune
    assert len(T.snapshot_files(pb, where_eq=[("v", 10)])) == 8
    # bucket hash destroys order: a RANGE on the source must not prune
    assert len(T.snapshot_files(pb, where=[("k", 5, 6)])) == 8

    # truncate(100, id) on ints: floor toward -inf (negative ids), and
    # ranges map to the partition interval [trunc(lo), trunc(hi)]
    pt = str(tmp_path / "trunc")
    T.snapshot_create(
        spark.range(-250, 250).selectExpr("id", "id * 3 AS v").coalesce(1),
        pt, partition_transform=("truncate", 100, "id"))
    assert sorted({f["partition"] for f in T.snapshot_files(pt)},
                  key=int) == ["-300", "-200", "-100", "0", "100", "200"]
    pr = T.snapshot_files(pt, where=[("id", -150, -20)])
    assert sorted({f["partition"] for f in pr}, key=int) == ["-200", "-100"]
    got = (T.read_snapshot(spark, pt, where=[("id", -150, -20)])
           .where("id BETWEEN -150 AND -20").count())
    assert got == 131
    # open-ended range: only the bounded side prunes
    assert sorted({f["partition"]
                   for f in T.snapshot_files(pt, where=[("id", 120, None)])},
                  key=int) == ["100", "200"]

    # truncate on strings: leading-W-chars prefix partitions
    ps = str(tmp_path / "strtrunc")
    sdf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(["apple", "apric", "banan", "bandy",
                                       "cherr"] * 4)],
        "id long, s string")
    T.snapshot_create(sdf.coalesce(1), ps,
                      partition_transform=("truncate", 2, "s"))
    pr = T.snapshot_files(ps, where_eq=[("s", "banan")])
    assert {f["partition"] for f in pr} == {"ba"}
    assert (T.read_snapshot(spark, ps, where_eq=[("s", "banan")])
            .where("s = 'banan'").count()) == 4

    # partition-bounded rewrites refuse on a transformed table
    one = df.limit(1)
    for op in (lambda: T.snapshot_upsert(one, pb, "id"),
               lambda: T.snapshot_merge_into(one, pb, "id"),
               lambda: T.snapshot_evolve_partition(pb, "v"),
               lambda: T.snapshot_rewrite_sorted(spark, pb, "id"),
               lambda: T.snapshot_rewrite_partitions(spark, pb)):
        with pytest.raises(ValueError, match="hidden-partition-transform"):
            op()

    # compaction bin-packs within derived partitions and keeps pruning
    for i in range(3):
        T.snapshot_append(
            spark.range(300 + i, 301 + i)
            .selectExpr("id", "id % 37 AS k", "id * 2 AS v"), pb)
    T.snapshot_compact(spark, pb, target_bytes=1 << 20)
    assert T.read_snapshot(spark, pb).count() == 303
    pruned = T.snapshot_files(pb, where_eq=[("k", 5)])
    assert {f["partition"] for f in pruned} == {want} and len(pruned) == 1
    # transforms are declared at create, not alongside partition_col
    with pytest.raises(ValueError, match="mutually exclusive"):
        T.snapshot_create(df, str(tmp_path / "x"), partition_col="k",
                          partition_transform=("bucket", 4, "k"))
    with pytest.raises(ValueError, match="integer or string"):
        T.snapshot_create(df.selectExpr("id", "id * 0.5 AS f"),
                          str(tmp_path / "y"),
                          partition_transform=("bucket", 4, "f"))


def test_join_mv_sync_delta_join_maintenance(spark, tmp_path):
    """Incremental equi-join MV: every sync state equals the full join,
    the (a, b) frontier pair advances even on an EMPTY delta, replays
    heal a lost pointer, and a base rewrite inside the window raises
    via the changelog contract."""
    import pytest

    from osmcha_spark.operators.incremental import join_mv_sync

    A, B, MV = (str(tmp_path / x) for x in ("a", "b", "mv"))
    cust = spark.range(0, 20).selectExpr("id AS key", "id * 11 AS nat")
    orde = spark.range(0, 60).selectExpr(
        "id % 25 AS key", "id AS oid", "id * 7 AS cents")

    def mv_equals_full():
        full = cust_now.join(orde_now, "key") \
            .select("key", "nat", "oid", "cents")
        mv = T.read_snapshot(spark, MV).select("key", "nat", "oid",
                                               "cents")
        assert mv.exceptAll(full).count() == 0
        assert full.exceptAll(mv).count() == 0

    cust_now = cust.where("key % 3 != 0")
    orde_now = orde.where("oid % 2 = 0")
    # B partitioned on the join key: the dA term side-scan is pruned
    T.snapshot_create(cust_now, A)
    T.snapshot_create(orde_now, B, partition_col="key")
    join_mv_sync(spark, A, B, MV, "key", ["nat"], ["oid", "cents"])
    mv_equals_full()

    T.snapshot_append(cust.where("key % 3 = 0"), A)
    cust_now = cust
    s1 = join_mv_sync(spark, A, B, MV, "key", ["nat"], ["oid", "cents"])
    mv_equals_full()

    # up to date -> None
    assert join_mv_sync(spark, A, B, MV, "key", ["nat"],
                        ["oid", "cents"]) is None

    # lost pointer: repoint MV back, replay heals to the done commit
    T._point_current(MV, 0)
    healed = join_mv_sync(spark, A, B, MV, "key", ["nat"],
                          ["oid", "cents"])
    assert healed == s1 and T.current_snapshot(MV) == s1
    mv_equals_full()

    # a delta whose keys join nothing still ADVANCES the frontier
    T.snapshot_append(
        spark.range(1000, 1003).selectExpr("id AS key", "id AS nat"), A)
    cust_now = cust.unionByName(
        spark.range(1000, 1003).selectExpr("id AS key", "id AS nat"))
    s2 = join_mv_sync(spark, A, B, MV, "key", ["nat"], ["oid", "cents"])
    assert s2 is not None
    mv_equals_full()
    assert join_mv_sync(spark, A, B, MV, "key", ["nat"],
                        ["oid", "cents"]) is None

    # both sides advance in one window: dAxB_new + A_old x dB, the
    # dA x dB pairs exactly once
    T.snapshot_append(
        spark.range(20, 22).selectExpr("id AS key", "id * 11 AS nat"), A)
    T.snapshot_append(orde.where("oid % 2 = 1"), B)
    cust_now = cust_now.unionByName(
        spark.range(20, 22).selectExpr("id AS key", "id * 11 AS nat"))
    orde_now = orde
    join_mv_sync(spark, A, B, MV, "key", ["nat"], ["oid", "cents"])
    mv_equals_full()

    # a compaction on a base INSIDE the window poisons the changelog
    for i in range(3):
        T.snapshot_append(
            spark.range(100 + i, 101 + i)
            .selectExpr("id AS key", "id AS nat"), A)
    if T.snapshot_compact(spark, A, target_bytes=1 << 20) is not None:
        with pytest.raises(ValueError):
            join_mv_sync(spark, A, B, MV, "key", ["nat"],
                         ["oid", "cents"])


def test_snapshot_rewrite_hilbert_layout_and_content(spark, tmp_path):
    """Hilbert re-cluster: content carried row-for-row, old layout
    time-travelable, commit_id replays, and the rewritten layout
    PRUNES BETTER than the unsorted original on every probed AOI
    (file counts via snapshot_files — the skip-count discipline)."""
    import hashlib

    from pyspark.sql import functions as F

    p = str(tmp_path / "pts")
    lim = 256
    base = spark.range(20_000).select(
        "id",
        (F.expr("cast(conv(substring(md5(concat(cast(id as string), "
                "'hx')), 1, 15), 16, 10) as bigint)") % lim).alias("x"),
        (F.expr("cast(conv(substring(md5(concat(cast(id as string), "
                "'hy')), 1, 15), 16, 10) as bigint)") % lim).alias("y"),
    )
    s0 = T.snapshot_create(base.repartition(16), p)
    before = len(T.snapshot_files(p))
    s1 = T.snapshot_rewrite_hilbert(spark, p, "x", "y", level=8,
                                    target_bytes=16 * 1024,
                                    commit_id="cluster-1")
    # content identical, both directions
    now = T.read_snapshot(spark, p)
    old = T.read_snapshot(spark, p, s0)
    assert now.exceptAll(old).count() == 0
    assert old.exceptAll(now).count() == 0
    # replay repoints, never rewrites again
    assert T.snapshot_rewrite_hilbert(
        spark, p, "x", "y", level=8, target_bytes=16 * 1024,
        commit_id="cluster-1") == s1
    # layout: every AOI prunes at least as well as the unsorted
    # snapshot, strictly better in aggregate
    tot_new = tot_old = 0
    for i in range(25):
        hx = int(hashlib.md5(f"ax{i}".encode()).hexdigest()[:15], 16)
        hy = int(hashlib.md5(f"ay{i}".encode()).hexdigest()[:15], 16)
        x0, y0 = hx % (lim - 32), hy % (lim - 32)
        w = [("x", x0, x0 + 31), ("y", y0, y0 + 31)]
        n_new = len(T.snapshot_files(p, s1, where=w))
        n_old = len(T.snapshot_files(p, s0, where=w))
        assert n_new <= n_old
        tot_new += n_new
        tot_old += n_old
    assert tot_new < tot_old
    assert before > 1  # the unsorted table really was fragmented


def test_snapshot_check_constraints_refuse_bad_writes(spark, tmp_path):
    """CHECK constraints (q196): a violating create leaves NO table, a
    violating append/upsert/merge leaves the table at its prior
    snapshot, NULL check results count as violations, and the error
    carries per-check violation counts."""
    import pytest

    p = str(tmp_path / "t")
    good = spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, cents long")
    bad = spark.createDataFrame(
        [(3, -5), (4, None), (5, 30)], "id long, cents long")

    # violating CREATE refuses before anything lands
    with pytest.raises(ValueError, match="snapshot_create refused"):
        T.snapshot_create(bad, str(tmp_path / "never"),
                          checks=["cents >= 0"])
    assert T.current_snapshot(str(tmp_path / "never")) is None

    T.snapshot_create(good, p, checks=["cents >= 0", "id >= 0"])
    assert T.table_checks(p) == ["cents >= 0", "id >= 0"]
    s0 = T.current_snapshot(p)

    # append: -5 violates, NULL counts as a violation too -> count 2
    with pytest.raises(ValueError, match=r"'cents >= 0': 2"):
        T.snapshot_append(bad, p)
    assert T.current_snapshot(p) == s0
    assert T.read_snapshot(spark, p).count() == 2

    # upsert and merge validate their inputs as well
    with pytest.raises(ValueError, match="snapshot_upsert refused"):
        T.snapshot_upsert(bad, p, key="id")
    with pytest.raises(ValueError, match="snapshot_merge_into refused"):
        T.snapshot_merge_into(bad, p, key="id")
    assert T.current_snapshot(p) == s0

    # valid writes pass; the constraint keeps holding across verbs
    T.snapshot_append(spark.createDataFrame([(6, 0)],
                                            "id long, cents long"), p)
    assert T.read_snapshot(spark, p).count() == 3


def test_snapshot_create_checks_written_after_commit(spark, tmp_path):
    """Checks land only with a committed create (they are a property of
    its manifest): a create that fails after validation leaves no
    constraint set behind, and a commit_id replay may not swap the
    checks that governed the original commit (same checks replay
    fine)."""
    import pytest

    good = spark.createDataFrame([(1, 10)], "id long, cents long")
    p = str(tmp_path / "t")
    with pytest.raises(ValueError, match="unknown partition transform"):
        T.snapshot_create(good, p, checks=["cents >= 0"],
                          partition_transform=("bogus", 2, "id"))
    assert T.table_checks(p) == []
    assert T.current_snapshot(p) is None

    s0 = T.snapshot_create(good, p, commit_id="c0",
                           checks=["cents >= 0"])
    assert T.table_checks(p) == ["cents >= 0"]
    assert T.snapshot_create(good, p, commit_id="c0",
                             checks=["cents >= 0"]) == s0
    with pytest.raises(ValueError, match="checks are set once"):
        T.snapshot_create(good, p, commit_id="c0", checks=["id >= 0"])
    with pytest.raises(ValueError, match="checks are set once"):
        T.snapshot_create(good, p, commit_id="c0")
    assert T.table_checks(p) == ["cents >= 0"]
    assert T.list_snapshots(p) == [s0]


def test_join_mv_sync_ignores_foreign_sync_tags(spark, tmp_path):
    """Only sync-<a>-<b> tags are join_mv_sync frontiers: a single-part
    sync-7 tag beside them is skipped, and a table tagged with nothing
    but sync-7 is refused with the contract error, not an unpacking
    ValueError."""
    import pytest

    from osmcha_spark.operators.incremental import join_mv_sync

    A, B, MV = (str(tmp_path / x) for x in ("a", "b", "mv"))
    T.snapshot_create(spark.range(0, 6).selectExpr("id AS key",
                                                   "id AS nat"), A)
    T.snapshot_create(spark.range(0, 6).selectExpr("id AS key",
                                                   "id * 2 AS oid"), B)
    join_mv_sync(spark, A, B, MV, "key", ["nat"], ["oid"])
    T.snapshot_tag(MV, "sync-7")
    T.snapshot_append(spark.range(6, 8).selectExpr("id AS key",
                                                   "id AS nat"), A)
    assert join_mv_sync(spark, A, B, MV, "key", ["nat"], ["oid"]) \
        is not None
    assert T.read_snapshot(spark, MV).count() == 6

    other = str(tmp_path / "other")
    T.snapshot_create(spark.range(0, 3).selectExpr("id AS key",
                                                   "id AS nat"), other)
    T.snapshot_tag(other, "sync-7")
    with pytest.raises(ValueError,
                       match="not a join_mv_sync-maintained view"):
        join_mv_sync(spark, A, B, other, "key", ["nat"], ["oid"])


def test_snapshot_replicate_delta_copy_and_guards(spark, tmp_path):
    """Replication (q197): the incremental sync copies ONLY the files
    appended since the frontier (file-name sets pinned), the replica
    prunes exactly like the primary (stats cloned), up-to-date returns
    None, a lost pointer heals, and a source rewrite or pending delete
    refuses."""
    import pytest

    S, R = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 100).selectExpr("id", "id % 4 AS p", "id * 3 AS v")
    T.snapshot_create(df, S, partition_col="p")
    s0 = T.snapshot_replicate(S, R)
    assert T.read_snapshot(spark, R).count() == 100

    T.snapshot_append(
        spark.range(100, 130).selectExpr("id", "id % 4 AS p",
                                         "id * 3 AS v"), S)
    before = {f["name"] for f in T.snapshot_files(R)}
    s1 = T.snapshot_replicate(S, R)
    copied = {f["name"] for f in T.snapshot_files(R)} - before
    src_new = ({f["name"] for f in T.snapshot_files(S)}
               - {f["name"] for f in T.snapshot_files(S, 0)})
    assert copied == src_new  # delta files only, names preserved
    assert T.read_snapshot(spark, R).count() == 130

    # replica prunes exactly like the primary (cloned stats/partitions)
    w = [("id", 110, 120)]
    assert ({f["name"] for f in T.snapshot_files(R, where=w)}
            == {f["name"] for f in T.snapshot_files(S, where=w)})

    # up to date -> None; lost pointer heals to the done commit
    assert T.snapshot_replicate(S, R) is None
    T._point_current(R, s0)
    assert T.snapshot_replicate(S, R) == s1
    assert T.current_snapshot(R) == s1

    # a rewrite on src breaks the append-only window: refuse
    T.snapshot_upsert(
        spark.range(0, 5).selectExpr("id", "id % 4 AS p", "id AS v"),
        S, key="id")
    with pytest.raises(ValueError, match="crosses a rewrite"):
        T.snapshot_replicate(S, R)
    # a fresh replica of the rewritten table is the documented resync
    R2 = str(tmp_path / "dst2")
    T.snapshot_replicate(S, R2)
    now = T.read_snapshot(spark, S)
    rep = T.read_snapshot(spark, R2)
    assert rep.exceptAll(now).count() == 0
    assert now.exceptAll(rep).count() == 0

    # pending row-level deletes are not file-representable: refuse
    T.snapshot_delete(S, "id", [7])
    with pytest.raises(ValueError, match="delete-free source"):
        T.snapshot_replicate(S, str(tmp_path / "dst3"))


def test_snapshot_upsert_version_col_carries_untouched_partitions(
        spark, tmp_path):
    """Copy-on-write upsert on a partitioned table: ``version_col``
    resolves a key that arrives twice WITHIN one batch (the highest
    version wins), the merged partition holds updates and inserts, and
    every untouched partition keeps its manifest entries — same file
    names, same bytes, same md5 — across the commit."""
    import hashlib

    path = str(tmp_path / "t")
    prior = spark.range(40).select(
        F.col("id"),
        F.lit("old").alias("v"),
        F.lit(0).alias("ver"),
        F.pmod("id", F.lit(4)).cast("int").alias("part"),
    )
    T.snapshot_create(prior, path, partition_col="part")

    def untouched():
        out = {}
        for f in T.snapshot_files(path):
            if f["partition"] == "2":
                continue  # the one partition the batch touches
            with open(os.path.join(T._data_dir(path), f["name"]),
                      "rb") as fh:
                out[f["name"]] = (f["bytes"],
                                  hashlib.md5(fh.read()).hexdigest())
        return out

    before = untouched()
    # both updates land in part=2 (2%4 == 102%4 == 2); id 2 arrives twice
    # with different versions — version_col must keep ver=2 only
    updates = spark.createDataFrame(
        [(2, "mid", 1, 2), (2, "new", 2, 2), (102, "ins", 1, 2)],
        "id long, v string, ver int, part int",
    )
    T.snapshot_upsert(updates, path, key="id", version_col="ver")
    assert before and untouched() == before, \
        "untouched partitions were rewritten"
    got = {
        r["id"]: (r["v"], r["part"])
        for r in T.read_snapshot(spark, path).collect()
    }
    assert len(got) == 41  # 40 prior + 1 insert
    assert got[2] == ("new", 2)        # updated, max version won
    assert got[102] == ("ins", 2)      # inserted into the touched part
    assert got[0] == ("old", 0) and got[7] == ("old", 3)  # untouched


def test_snapshot_compact_bins_content_idempotence(spark, tmp_path):
    """snapshot_compact (q109) beyond the gate's 1-bin case: a partition
    whose bytes exceed target_bytes plans MULTIPLE bins (more than one
    file, never more than ceil(bytes / target)), content survives
    row-for-row, and a second run is a no-op — the small-file guard
    keeps the freshly written, better-compressed bins from re-planning
    fewer bins and rewriting forever; the manifest stays byte-identical."""
    import hashlib
    import math

    path = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        F.pmod(F.col("id"), F.lit(2)).cast("int").alias("part"),
    )
    T.snapshot_create(df.repartition(16), path, partition_col="part")

    def by_part():
        out: dict = {}
        for f in T.snapshot_files(path):
            out.setdefault(f["partition"], []).append(f)
        return out

    def rows():
        return sorted((r.id, r.payload, r.part)
                      for r in T.read_snapshot(spark, path).collect())

    listing = by_part()
    assert all(len(fs) == 16 for fs in listing.values())
    target = max(1, sum(f["bytes"] for f in listing["0"]) // 3)
    before_rows = rows()

    # target = ~1/3 of a partition's bytes -> 3-4 bins per partition
    assert T.snapshot_compact(spark, path, target_bytes=target) is not None
    for val, fs in by_part().items():
        bins = math.ceil(sum(f["bytes"] for f in listing[val]) / target)
        assert 2 <= len(fs) <= bins
    assert rows() == before_rows

    def digest():
        out = {}
        for f in T.snapshot_files(path):
            with open(os.path.join(T._data_dir(path), f["name"]),
                      "rb") as fh:
                out[f["name"]] = (f["bytes"],
                                  hashlib.md5(fh.read()).hexdigest())
        return out

    manifest = digest()
    sid = T.current_snapshot(path)
    assert T.snapshot_compact(spark, path, target_bytes=target) is None
    assert T.current_snapshot(path) == sid
    assert digest() == manifest


def test_join_mv_sync_delta_with_more_keys_than_partitions(
        spark, tmp_path, monkeypatch):
    """join_mv_sync collects at most (#partition values + 1) delta keys
    for its partition-pruned side scan: a delta with more distinct keys
    than the partitioned side has partitions falls back to the full side
    scan and gives the same MV rows as the full join."""
    from osmcha_spark.operators.incremental import join_mv_sync

    A, B, MV = (str(tmp_path / x) for x in ("a", "b", "mv"))
    T.snapshot_create(spark.range(0, 3).selectExpr("id AS key",
                                                   "id * 11 AS nat"), A)
    orde = spark.range(0, 9).selectExpr("id % 3 AS key", "id AS oid")
    T.snapshot_create(orde, B, partition_col="key")  # 3 partitions
    join_mv_sync(spark, A, B, MV, "key", ["nat"], ["oid"])

    reads = []
    real_read = T.read_snapshot

    def spy(spark_, path, *args, **kwargs):
        reads.append((path, kwargs.get("partitions")))
        return real_read(spark_, path, *args, **kwargs)

    monkeypatch.setattr(T, "read_snapshot", spy)
    more = spark.range(0, 10).selectExpr("id AS key", "id * 13 AS nat")
    T.snapshot_append(more, A)  # 10 distinct keys > 3 partitions of B
    assert join_mv_sync(spark, A, B, MV, "key", ["nat"], ["oid"]) \
        is not None
    assert (B, None) in reads  # the full side scan, not a pruned one
    monkeypatch.setattr(T, "read_snapshot", real_read)

    full = T.read_snapshot(spark, A).join(orde, "key") \
        .select("key", "nat", "oid")
    mv = T.read_snapshot(spark, MV).select("key", "nat", "oid")
    assert mv.count() == full.count()
    assert mv.exceptAll(full).count() == 0
    assert full.exceptAll(mv).count() == 0


def test_expire_snapshots_refuses_keep_last_below_one(spark, tmp_path):
    """keep_last=0 used to keep every manifest (``sids[-0:]``) and a
    negative -k expired exactly the k oldest; both now raise before
    anything is removed."""
    path = str(tmp_path / "t")
    T.snapshot_create(_mk(spark, 20), path, partition_col="part")
    T.snapshot_append(_mk(spark, 5), path)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            T.expire_snapshots(path, keep_last=bad)
    assert T.list_snapshots(path) == [0, 1]
    assert T.expire_snapshots(path, keep_last=1) == [0]


def test_commit_stamps_past_the_highest_snapshot(tmp_path, monkeypatch):
    """_commit reads the previous commit stamp from the highest snapshot
    id alone. Pinned: with a clock that stands still, after expiry and
    after a rollback plus a forked commit, the highest id still holds
    the largest stamp and stamps rise with the id; and the manifest
    loads per _commit are the same at commit 10 and at commit 60."""
    import time

    path = str(tmp_path / "t")
    monkeypatch.setattr(time, "time", lambda: 1_000.0)
    loads = []
    real_load = T._load_manifest

    def counting(p, sid):
        loads.append(sid)
        return real_load(p, sid)

    def commit():
        cur = T.current_snapshot(path)
        base = None if cur is None else real_load(path, cur)
        loads.clear()
        monkeypatch.setattr(T, "_load_manifest", counting)
        T._commit(path, [], base, cur, None)
        monkeypatch.setattr(T, "_load_manifest", real_load)
        return len(loads)

    def assert_stamps_rise():
        sids = T.list_snapshots(path)
        stamps = [real_load(path, s)["committed_at_us"] for s in sids]
        assert stamps == sorted(set(stamps))
        assert max(stamps) == stamps[-1]

    per_commit = [commit() for _ in range(60)]
    assert per_commit[9] == per_commit[59] == 1
    T.expire_snapshots(path, keep_last=3)
    commit()
    assert_stamps_rise()
    T.snapshot_rollback(path, T.list_snapshots(path)[0])
    commit()
    assert_stamps_rise()
