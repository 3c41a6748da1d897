"""Replication-source robustness: the strict scan is reference-parity
(a corrupt file crashes, as the reference's gzip+ElementTree would);
read_replication_robust quarantines per file instead — the q53
fault-containment discipline applied at the source, for the
planet-scale regime where one bad minutely file must not poison a
million-file scan."""

import gzip
import shutil

import pytest
from pyspark.sql import functions as F

from osmcha_spark.sources.replication import (
    read_replication,
    read_replication_robust,
)


@pytest.fixture()
def mixed_dir(tmp_path, replication_gz):
    d = tmp_path / "repl"
    d.mkdir()
    shutil.copy(replication_gz, d / "000.osm.gz")
    # truncated gzip stream
    with open(replication_gz, "rb") as fh:
        (d / "001.osm.gz").write_bytes(fh.read()[:200])
    # valid gzip of malformed XML
    (d / "002.osm.gz").write_bytes(gzip.compress(b"<osm><changeset"))
    return str(d)


def test_strict_scan_fails_on_corrupt_file(spark, mixed_dir):
    # The contract pinned here is "the strict scan FAILS", matching the
    # reference's crash-on-corrupt behavior. Deliberately NO message
    # match: PySpark wraps the worker's EOFError differently depending
    # on which task dies first and whether the scheduler retried it
    # (observed: "Compressed file ended" solo, but a bare task-failure
    # wrapper under a loaded suite) — the behavior is the contract, the
    # wrapper text is not.
    with pytest.raises(Exception):
        read_replication(spark, mixed_dir).count()


def test_robust_scan_quarantines_per_file(spark, mixed_dir, replication_gz):
    robust = read_replication_robust(spark, mixed_dir)
    good = robust.where(F.col("parse_error").isNull())
    bad = robust.where(F.col("parse_error").isNotNull()).collect()

    # good rows == the strict scan of only the parseable file
    strict = read_replication(spark, replication_gz)
    got = {
        (r.id, r.user, r.min_lon, tuple(sorted((r.tags or {}).items())))
        for r in good.collect()
    }
    want = {
        (r.id, r.user, r.min_lon, tuple(sorted((r.tags or {}).items())))
        for r in strict.collect()
    }
    assert got == want and len(want) == 25

    # exactly one quarantine row per corrupt FILE, with the data columns
    # null, the source path preserved, and a typed error message
    assert len(bad) == 2
    by_file = {r.src_file.rsplit("/", 1)[-1]: r for r in bad}
    assert set(by_file) == {"001.osm.gz", "002.osm.gz"}
    for r in bad:
        assert r.id is None and r.tags is None
        assert r.parse_error and ":" in r.parse_error
    assert "001.osm.gz" in by_file and (
        "Error" in by_file["001.osm.gz"].parse_error
        or "error" in by_file["001.osm.gz"].parse_error
    )
    assert "ParseError" in by_file["002.osm.gz"].parse_error


def test_generated_fixture_matches_transcription(spark, replication_gz):
    """The generated 245.osm.gz reads back as the transcribed rows, row
    for row and in file order: every attribute, the float bbox exactly,
    and the whole tags map."""
    from osmcha_spark.fixtures import _fixture_245

    got = [r.asDict()
           for r in read_replication(spark, replication_gz).collect()]
    assert got == _fixture_245()
