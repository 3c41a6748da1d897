"""Checkpointed stage runner tests (SURVEY.md §2.1 S11, §7 step 8).

Key property: kill after stage k → rerun restarts at k+1 with identical
final output; lineage sidecars carry exact observed row counts.
"""

import json
import os

import pytest

from osmcha_spark.checkpoint import StagedPipeline, config_hash


@pytest.fixture()
def df10(spark):
    return spark.range(10).withColumnRenamed("id", "n")


def test_stage_writes_output_and_lineage(spark, df10, tmp_path):
    pipe = StagedPipeline(spark, str(tmp_path), cfg_hash="h1")
    out = pipe.stage("base", lambda: df10)
    assert out.count() == 10
    lin = pipe.lineage("base")
    assert lin["rows"] == 10
    assert lin["config_hash"] == "h1"
    assert os.path.exists(tmp_path / "base" / "_SUCCESS")


def test_resume_skips_valid_stage(spark, df10, tmp_path):
    pipe = StagedPipeline(spark, str(tmp_path), cfg_hash="h1")
    pipe.stage("base", lambda: df10)

    def boom():
        raise AssertionError("stage must be replayed, not rebuilt")

    out = StagedPipeline(spark, str(tmp_path), cfg_hash="h1").stage(
        "base", boom
    )
    assert out.count() == 10


def test_config_change_invalidates(spark, df10, tmp_path):
    StagedPipeline(spark, str(tmp_path), cfg_hash="h1").stage(
        "base", lambda: df10
    )
    calls = []

    def rebuild():
        calls.append(1)
        return df10

    StagedPipeline(spark, str(tmp_path), cfg_hash="h2").stage("base", rebuild)
    assert calls == [1]


def test_kill_after_stage_k_resumes(spark, df10, tmp_path):
    """Run dies in stage 2 → rerun replays stage 1, completes stage 2,
    and the output matches a fresh end-to-end run."""
    root_killed = str(tmp_path / "killed")
    root_fresh = str(tmp_path / "fresh")

    def stage2_of(base_df):
        return base_df.selectExpr("n", "n * n as sq")

    pipe = StagedPipeline(spark, root_killed, cfg_hash="h")
    base = pipe.stage("s1", lambda: df10)
    with pytest.raises(RuntimeError):
        pipe.stage("s2", lambda: (_ for _ in ()).throw(RuntimeError("kill")),
                   inputs=["s1"])

    # restart
    pipe2 = StagedPipeline(spark, root_killed, cfg_hash="h")
    s1_calls = []
    base2 = pipe2.stage("s1", lambda: s1_calls.append(1) or df10)
    out = pipe2.stage("s2", lambda: stage2_of(base2), inputs=["s1"])
    assert s1_calls == []  # stage 1 replayed from checkpoint

    fresh = StagedPipeline(spark, root_fresh, cfg_hash="h")
    want = fresh.stage(
        "s2", lambda: stage2_of(fresh.stage("s1", lambda: df10)),
        inputs=["s1"],
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_upstream_rerun_invalidates_downstream(spark, df10, tmp_path):
    pipe = StagedPipeline(spark, str(tmp_path), cfg_hash="h")
    base = pipe.stage("s1", lambda: df10)
    pipe.stage("s2", lambda: base.selectExpr("n + 1 as m"), inputs=["s1"])

    # Force s1 to re-run (e.g. new input data): bump its lineage timestamp.
    lin_path = os.path.join(str(tmp_path), "_lineage", "s1.json")
    with open(lin_path) as f:
        lin = json.load(f)
    lin["written_at"] = lin["written_at"] + 10_000
    with open(lin_path, "w") as f:
        json.dump(lin, f)

    calls = []
    pipe.stage(
        "s2",
        lambda: calls.append(1) or base.selectExpr("n + 1 as m"),
        inputs=["s1"],
    )
    assert calls == [1]


def test_config_hash_stable():
    assert config_hash({"a": 1, "b": [2, 3]}) == config_hash(
        {"b": [2, 3], "a": 1}
    )
    assert config_hash({"a": 1}) != config_hash({"a": 2})


def test_spark_submit_dedup_job_runs_and_resumes(tmp_path):
    """The deployment path end-to-end: build the --py-files zip, run the
    dedup-ladder job via a REAL spark-submit subprocess (imports resolve
    only from the zip), then re-submit with the same checkpoint root — all
    four stages must be reused (identical lineage written_at timestamps),
    proving cluster-job resumability, not just in-process resumability."""
    import json
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    zip_path = str(tmp_path / "osmcha_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "make_pyfiles_zip.py"),
         zip_path],
        check=True, capture_output=True,
    )
    ckpt = str(tmp_path / "job")

    def submit():
        proc = subprocess.run(
            [spark_submit, "--master", "local[4]",
             "--conf", "spark.ui.enabled=false",
             "--conf", "spark.sql.shuffle.partitions=8",
             "--py-files", zip_path,
             os.path.join(repo, "tools", "job_dedup_pipeline.py"),
             "--sf-dir", "/root/testdata/sf0.001",
             "--checkpoint-root", ckpt],
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("JOB_RESULT ")][-1]
        return json.loads(line[len("JOB_RESULT "):])

    r1 = submit()
    assert r1["docs"] == 500 and r1["near_dup_pairs"] > 0
    assert r1["kept_canonical"] < r1["docs"]
    stamps1 = {e["stage"]: e["written_at"] for e in r1["lineage"]}
    assert set(stamps1) == {"exact", "simhash", "pairs", "clusters"}

    r2 = submit()
    stamps2 = {e["stage"]: e["written_at"] for e in r2["lineage"]}
    # resumed: no stage was rebuilt, so every lineage record is untouched
    assert stamps2 == stamps1
    assert {k: r2[k] for k in ("docs", "exact_groups", "near_dup_pairs",
                               "kept_canonical")} == \
           {k: r1[k] for k in ("docs", "exact_groups", "near_dup_pairs",
                               "kept_canonical")}


def test_spark_submit_snapshot_merge_bounded_rewrite(
        tmp_path, spark, replication_gz):
    """Deployment path for the minutely-replication merge
    (tools/job_snapshot_pipeline.py): submit #1 bootstraps the
    bucket-partitioned verdict snapshot table from the reference
    replication fixture; submit #2 merges a one-changeset update batch
    (comments_count bumped) and must (a) write files for exactly one
    bucket and carry every other bucket's files by reference with
    unchanged md5, (b) update exactly that row, (c) keep the table row
    count; re-submitting the same batch reports ``replayed`` and writes
    no file."""
    import hashlib
    import json
    import os
    import shutil
    import subprocess
    import sys

    import pytest

    from osmcha_spark.sources import tables as T

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    zip_path = str(tmp_path / "osmcha_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "make_pyfiles_zip.py"),
         zip_path],
        check=True, capture_output=True,
    )
    table = str(tmp_path / "table")
    aux = os.path.join(repo, "tests", "data")

    def submit(repl):
        proc = subprocess.run(
            [spark_submit, "--master", "local[4]",
             "--conf", "spark.ui.enabled=false",
             "--conf", "spark.sql.shuffle.partitions=8",
             "--py-files", zip_path,
             os.path.join(repo, "tools", "job_snapshot_pipeline.py"),
             "--replication-dir", repl,
             "--aux-dir", aux, "--table", table],
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("JOB_RESULT ")][-1]
        return json.loads(line[len("JOB_RESULT "):])

    r1 = submit(replication_gz)
    assert r1["bootstrap"] and r1["snapshot_rows"] == 25

    # craft the update batch: changeset 31982803 re-fetched with a bumped
    # comments_count (the row a reviewer commented on)
    from osmcha_spark.sources.replication import (
        read_replication,
        write_replication_gz,
    )

    row = [
        r.asDict()
        for r in read_replication(spark, replication_gz).collect()
        if r["id"] == 31982803
    ][0]
    row["comments_count"] = "99"
    batch_dir = tmp_path / "batch2"
    batch_dir.mkdir()
    write_replication_gz([row], str(batch_dir / "000002.osm.gz"))

    touched_bucket = str(31982803 % 8)

    def files():
        out = {}
        for f in T.snapshot_files(table):
            with open(os.path.join(T._data_dir(table), f["name"]),
                      "rb") as fh:
                out[f["name"]] = (f["partition"],
                                  hashlib.md5(fh.read()).hexdigest())
        return out

    before = files()
    r2 = submit(str(batch_dir))
    assert not r2["bootstrap"] and not r2["replayed"]
    assert r2["snapshot_rows"] == 25  # update, not insert
    after = files()
    written = {after[n][0] for n in set(after) - set(before)}
    assert written == {touched_bucket}
    untouched = {n: v for n, v in before.items() if v[0] != touched_bucket}
    assert untouched and all(after.get(n) == v
                             for n, v in untouched.items()), \
        "untouched buckets were rewritten"
    assert r2["files_carried_by_reference"] == len(untouched)

    got = T.read_snapshot(spark, table).where("id = 31982803").collect()
    assert len(got) == 1 and got[0]["comments_count"] == 99

    # the same batch again: the commit_id finds its manifest
    data = sorted(os.listdir(T._data_dir(table)))
    r3 = submit(str(batch_dir))
    assert r3["replayed"] and r3["snapshot"] == r2["snapshot"]
    assert sorted(os.listdir(T._data_dir(table))) == data
