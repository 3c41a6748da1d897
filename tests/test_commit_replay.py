"""Crash-point sweep over every committing verb of the snapshot table
format (sources/tables.py).

A commit has two crash points: before the manifest link (``os.link``
raises) and between the link and the repoint (``_point_current`` or
``_point_branch`` raises); the streamed pyramid adds its expiry after
the commit. After each crash the same call is retried, and then:

- the table holds the rows of one clean application of the call (a
  Python model of the verb, or a full recompute for the sync verbs);
- its ref (main, or the branch) is the newest descendant of the commit;
- ``vacuum`` leaves no file that no manifest references.

The sync verbs (``mv_sync``, ``join_mv_sync``, ``snapshot_replicate``)
also sync once more after a base append and must equal a full
recompute, before and after ``expire_snapshots(keep_last=1)``.

The replay cases commit cleanly, build a later commit on top (a
compaction, or a rollback plus a forked commit) and replay the call:
the replay must change neither the ref nor the rows."""
import os

import pytest
from pyspark.sql import functions as F

from osmcha_spark.operators.incremental import join_mv_sync, mv_sync
from osmcha_spark.operators.tiles import tile_pyramid
from osmcha_spark.sources import tables as T
from osmcha_spark.streaming.ingest import apply_pyramid_batch

SCHEMA = "k long, part long, v long"
BASE = [(k, k % 2, 10 * k) for k in range(6)]
NEW = [(6, 0, 60), (7, 1, 70)]
UPS = [(1, 1, 11), (8, 0, 80)]
LATER = [(0, 0, 1000), (1, 1, 1001)]  # a commit built on the replayed one


class Crash(RuntimeError):
    pass


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).coalesce(1)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns))
                  .collect())


def _base(spark, path, **kw):
    return T.snapshot_create(_df(spark, BASE), path, partition_col="part",
                             **kw)


def _points(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        ((F.col("id") * 37) % 360 - 180.0).alias("lon"),
        ((F.col("id") * 11) % 180 - 90.0).alias("lat"),
    )


class Verb:
    """One committing call on the table at ``<root>/t``: ``setup`` builds
    what the call needs, ``act`` makes the call (the retry repeats it
    verbatim), ``want`` is the table after one clean application, and
    ``expect`` its rows when the verb is modelled in Python. Sync verbs
    also have ``grow``, one more append to their base."""

    branch = None
    staged = False
    expect = BASE

    def __init__(self, spark, root):
        self.spark, self.root = spark, root
        self.p = os.path.join(root, "t")
        self.src = os.path.join(root, "src")

    def setup(self):
        _base(self.spark, self.p)

    def ref(self):
        if self.branch is not None:
            return T.resolve_branch(self.p, self.branch)
        return T.current_snapshot(self.p)

    def rows(self, sid=None):
        return _sorted_rows(T.read_snapshot(
            self.spark, self.p, snapshot=self.ref() if sid is None else sid))

    def want(self):
        return self.spark.createDataFrame(self.expect, SCHEMA)


class Create(Verb):
    def setup(self):
        pass

    def act(self):
        return _base(self.spark, self.p, commit_id="c",
                     checks=["v >= 0"])

    def check(self):
        assert T.table_checks(self.p) == ["v >= 0"]
        with pytest.raises(ValueError, match="CHECK constraint"):
            T.snapshot_append(_df(self.spark, [(9, 1, -1)]), self.p)


class Append(Verb):
    expect = BASE + NEW

    def act(self):
        return T.snapshot_append(_df(self.spark, NEW), self.p,
                                 commit_id="c")


class AppendStaged(Verb):
    staged = True
    expect = BASE + NEW

    def act(self):
        return T.snapshot_append(_df(self.spark, NEW), self.p,
                                 commit_id="c", publish=False)


class AppendBranch(Verb):
    branch = "audit"
    expect = BASE + NEW

    def setup(self):
        _base(self.spark, self.p)
        T.snapshot_branch(self.p, self.branch)

    def act(self):
        return T.snapshot_append(_df(self.spark, NEW), self.p,
                                 commit_id="c", branch=self.branch)

    def check(self):
        assert T.current_snapshot(self.p) == 0  # main never moves


class Upsert(Verb):
    expect = [r for r in BASE if r[0] != 1] + UPS

    def act(self):
        return T.snapshot_upsert(_df(self.spark, UPS), self.p, key="k",
                                 commit_id="c")


class MergeInto(Verb):
    expect = [r for r in BASE if r[0] != 1] + UPS[1:]  # k=1 deleted

    def act(self):
        return T.snapshot_merge_into(_df(self.spark, UPS), self.p, key="k",
                                     delete_condition="s.v = 11",
                                     commit_id="c")


class Delete(Verb):
    expect = [r for r in BASE if r[0] not in (1, 2)]

    def act(self):
        return T.snapshot_delete(self.p, "k", [1, 2], commit_id="c")


class DeletePositions(Verb):
    expect = [r for r in BASE if r[0] not in (3, 4)]

    def act(self):
        pos = T.read_snapshot(self.spark, self.p, with_pos=True) \
            .where("k IN (3, 4)").collect()
        return T.snapshot_delete_positions(
            self.p, [(r._file, r._pos) for r in pos], commit_id="c")


class EvolvePartition(Verb):
    def act(self):
        return T.snapshot_evolve_partition(self.p, "k", commit_id="c")

    def check(self):
        assert T._load_manifest(self.p, self.ref())["partition_col"] == "k"


class RewritePartitions(Verb):
    def setup(self):
        _base(self.spark, self.p)
        T.snapshot_evolve_partition(self.p, "k")

    def act(self):
        return T.snapshot_rewrite_partitions(self.spark, self.p,
                                             commit_id="c")


class RewriteSorted(Verb):
    def act(self):
        return T.snapshot_rewrite_sorted(self.spark, self.p, "v",
                                         commit_id="c")


class RewriteHilbert(Verb):
    def act(self):
        return T.snapshot_rewrite_hilbert(self.spark, self.p, "k", "part",
                                          4, commit_id="c")


class Replicate(Verb):
    """The first-ever replication crashes."""

    def setup(self):
        _base(self.spark, self.src)

    def act(self):
        return T.snapshot_replicate(self.src, self.p)

    def grow(self):
        n = T.current_snapshot(self.src)
        T.snapshot_append(_df(self.spark, [(100 + n, n % 2, n)]), self.src)

    def want(self):
        return T.read_snapshot(self.spark, self.src)


class MvSync(Replicate):
    def setup(self):
        _base(self.spark, self.src)
        self.act()  # the view's first build
        T.snapshot_append(_df(self.spark, NEW), self.src)

    def act(self):
        return mv_sync(self.spark, self.src, self.p, "part", "v")

    def want(self):
        return T.read_snapshot(self.spark, self.src).groupBy("part").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"))


class JoinMvSync(MvSync):
    def setup(self):
        self.side = os.path.join(self.root, "side")
        T.snapshot_create(self.spark.createDataFrame(
            [(0, 100), (1, 200)], "part long, o long"), self.side)
        super().setup()

    def act(self):
        return join_mv_sync(self.spark, self.src, self.side, self.p,
                            "part", ["k", "v"], ["o"])

    def want(self):
        return T.read_snapshot(self.spark, self.src).join(
            T.read_snapshot(self.spark, self.side), "part")


class Pyramid(Verb):
    def want(self):
        return tile_pyramid(_points(self.spark, 0, 80), "lon", "lat", 6, 4)

    def setup(self):
        apply_pyramid_batch(_points(self.spark, 0, 40), 0, self.p,
                            "lon", "lat", 6, 4)

    def act(self):
        return apply_pyramid_batch(_points(self.spark, 40, 80), 1, self.p,
                                   "lon", "lat", 6, 4)


VERBS = {
    "create": Create, "append": Append, "append_staged": AppendStaged,
    "append_branch": AppendBranch, "upsert": Upsert,
    "merge_into": MergeInto, "delete": Delete,
    "delete_positions": DeletePositions,
    "evolve_partition": EvolvePartition,
    "rewrite_partitions": RewritePartitions,
    "rewrite_sorted": RewriteSorted, "rewrite_hilbert": RewriteHilbert,
    "replicate": Replicate, "mv_sync": MvSync, "join_mv_sync": JoinMvSync,
    "pyramid": Pyramid,
}
CRASH_POINTS = {
    "link": (os, "link"),
    "repoint": (T, "_point_current", "_point_branch"),
    "expire": (T, "expire_snapshots"),
}
CASES = [(v, c) for v in VERBS for c in ("link", "repoint")
         if not (v == "append_staged" and c == "repoint")]
CASES.append(("pyramid", "expire"))


def _crash_once(monkeypatch, owner, *names):
    real = {n: getattr(owner, n) for n in names}

    def boom(*args, **kwargs):
        for n, f in real.items():
            monkeypatch.setattr(owner, n, f)
        raise Crash(f"crash at {names[0]}")

    for n in names:
        monkeypatch.setattr(owner, n, boom)


def _assert_newest_descendant(path, ref, committed):
    assert T._is_ancestor(path, committed, ref)
    assert [s for s in T.list_snapshots(path)
            if s != ref and T._is_ancestor(path, ref, s)] == []


def _assert_vacuumed(path):
    T.vacuum(path)
    sids = T.list_snapshots(path)
    referenced = set()
    ids = []
    for s in sids:
        man = T._load_manifest(path, s)
        referenced |= {f["name"] for f in man["files"]}
        referenced |= {d["name"] for d in man.get("deletes") or []}
        ids += [man["commit_id"]] if man.get("commit_id") else []
    assert len(ids) == len(set(ids))  # no call committed twice
    assert set(os.listdir(T._data_dir(path))) == referenced
    assert sorted(os.listdir(T._snapshots_dir(path))) == \
        [os.path.basename(T._manifest_file(path, s)) for s in sids]
    assert [n for n in os.listdir(path) if n.startswith("_staging_")] == []


@pytest.mark.parametrize("verb,point", CASES,
                         ids=[f"{v}-{c}" for v, c in CASES])
def test_crash_point_sweep(spark, tmp_path, monkeypatch, verb, point):
    v = VERBS[verb](spark, str(tmp_path))
    v.setup()
    before = v.ref()
    _crash_once(monkeypatch, *CRASH_POINTS[point])
    with pytest.raises(Crash):
        v.act()
    monkeypatch.undo()
    if point != "expire":  # readers stay on the previous snapshot
        assert v.ref() == before

    got = v.act()  # the retry
    want_rows = _sorted_rows(v.want())
    if v.staged:
        assert T.current_snapshot(v.p) == before
        assert T._load_manifest(v.p, got)["parent"] == before
        assert v.rows(got) == want_rows
    else:
        assert v.rows() == want_rows
        _assert_newest_descendant(v.p, v.ref(),
                                  v.ref() if got is None else got)
    if hasattr(v, "check"):
        v.check()
    _assert_vacuumed(v.p)

    if hasattr(v, "grow"):
        # the sync is up to date, then applies every later base row
        # exactly once, also after all but the current manifest expire
        assert v.act() is None
        for expire in (False, True):
            if expire:
                T.expire_snapshots(v.p, keep_last=1)
                assert T.list_snapshots(v.p) == [T.current_snapshot(v.p)]
            v.grow()
            assert v.act() is not None
            assert v.rows() == _sorted_rows(v.want())
        _assert_vacuumed(v.p)


REPLAYS = [(v, "compact") for v in (
    "create", "append", "upsert", "merge_into", "delete",
    "delete_positions", "rewrite_partitions", "rewrite_sorted",
    "rewrite_hilbert", "replicate", "join_mv_sync")]
REPLAYS += [(v, "fork") for v in (
    "append", "upsert", "merge_into", "delete", "delete_positions",
    "evolve_partition", "rewrite_partitions", "rewrite_sorted",
    "rewrite_hilbert")]


@pytest.mark.parametrize("verb,later", REPLAYS,
                         ids=[f"{v}-{c}" for v, c in REPLAYS])
def test_replay_keeps_later_commit(spark, tmp_path, verb, later):
    v = VERBS[verb](spark, str(tmp_path))
    v.setup()
    sid = v.act()
    if later == "compact":
        # fragment every partition, then compact on top of the commit
        if verb == "replicate":
            v.grow()
            sid = v.act()
        elif verb != "join_mv_sync":  # each view sync adds files
            T.snapshot_append(_df(spark, LATER), v.p)
        assert T.snapshot_compact(spark, v.p, target_bytes=1 << 30) \
            is not None
    else:
        T.snapshot_rollback(v.p, T._load_manifest(v.p, sid)["parent"])
        T.snapshot_append(_df(spark, LATER), v.p)
    head, rows = v.ref(), v.rows()

    again = v.act()  # the replay
    assert again == (None if hasattr(v, "grow") else sid)
    assert v.ref() == head and v.rows() == rows
    _assert_vacuumed(v.p)
