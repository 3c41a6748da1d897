"""Replication-source robustness: the strict scan is reference-parity
(a corrupt file crashes, as the reference's gzip+ElementTree would,
and every reader trap of the tag pivot is pinned);
read_replication_robust quarantines per file instead — the q53
fault-containment discipline applied at the source, for the
planet-scale regime where one bad minutely file must not poison a
million-file scan."""

import gzip
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from osmcha_spark.sources.replication import (
    CHANGESETS_SCHEMA,
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


def _half_document(good: bytes) -> bytes:
    xml = gzip.decompress(good)
    return gzip.compress(xml[: len(xml) // 2])


# corruption kind -> (make the corrupt bytes from a good file, the label
# the robust scan quarantines it under)
CORRUPTIONS = {
    "truncated_gzip": (lambda good: good[:200], "ReadError"),
    "unclosed_xml": (lambda good: gzip.compress(b"<osm><changeset"),
                     "ParseError"),
    "half_document": (_half_document, "ParseError"),
}


@pytest.mark.parametrize("kind", sorted(CORRUPTIONS))
def test_each_corruption_fails_strict_and_quarantines_robust(
        spark, tmp_path, replication_gz, kind):
    """Each kind of corruption on its own, beside one good file: the
    strict scan fails, and the robust scan quarantines exactly that file
    and keeps the good file's rows. A half document inside a valid gzip
    must fail too, not yield the changesets before the cut. The
    directory name holds a space and a ``%``, so the robust scan's
    file-path join must not depend on URL encoding."""
    make, label = CORRUPTIONS[kind]
    with open(replication_gz, "rb") as fh:
        good = fh.read()
    d = tmp_path / "repl dir%20"
    d.mkdir()
    (d / "000.osm.gz").write_bytes(good)
    (d / "001.osm.gz").write_bytes(make(good))
    with pytest.raises(Exception):
        read_replication(spark, str(d)).collect()

    robust = read_replication_robust(spark, str(d)).collect()
    bad = [(r.src_file.rsplit("/", 1)[-1], r.parse_error.split(":")[0])
           for r in robust if r.parse_error is not None]
    assert bad == [("001.osm.gz", label)]
    assert sum(r.parse_error is None for r in robust) == 25


def test_gzip_missing_trailer_kept_robust_fails_strict(
        spark, tmp_path, replication_gz):
    """A gzip that lacks only its 8-byte trailer (CRC-32 and size)
    decompresses whole: the robust scan keeps all its rows and
    quarantines nothing, while the strict scan fails on it."""
    with open(replication_gz, "rb") as fh:
        good = fh.read()
    d = tmp_path / "repl"
    d.mkdir()
    (d / "000.osm.gz").write_bytes(good)
    (d / "001.osm.gz").write_bytes(good[:-8])
    with pytest.raises(Exception):
        read_replication(spark, str(d)).collect()

    robust = read_replication_robust(spark, str(d)).collect()
    assert [r for r in robust if r.parse_error is not None] == []
    assert len(robust) == 50
    assert {r.src_file.rsplit("/", 1)[-1] for r in robust} == {
        "000.osm.gz", "001.osm.gz"}


# Reader traps, in one file: spaces around values, a repeated tag key,
# tag keys named after attributes, a tag without k, a <discussion> child
# (not a <tag>), a changeset with no tags and no bbox.
TRAPS_XML = (
    b'<osm version="0.6">'
    b'<changeset id="1" user=" pad " uid="7" '
    b'created_at="2020-01-01T00:00:00Z" comments_count="2" '
    b'min_lon="1.5" min_lat="-2.25" max_lon="3" max_lat="4">'
    b'<tag k="comment" v=" spaced "/>'
    b'<tag k="source" v="first"/><tag k="source" v="last"/>'
    b'<tag k="id" v="99"/><tag k="user" v="someone"/>'
    b'<tag v="keyless"/>'
    b'<discussion><comment date="2020-01-02T00:00:00Z" uid="8" '
    b'user="x"><text>looks fine</text></comment></discussion>'
    b'</changeset>'
    b'<changeset id="2" user="u" uid="9" '
    b'created_at="2020-01-01T00:00:01Z" comments_count="0"/>'
    b'</osm>'
)


def test_reader_traps(spark, tmp_path):
    """The tag pivot's edge cases, next to an ``<osm/>`` file that must
    add no rows. A non-tag child used to kill the whole scan (it became
    a NULL-keyed map entry that Arrow could not cast)."""
    d = tmp_path / "traps"
    d.mkdir()
    (d / "000.osm.gz").write_bytes(gzip.compress(TRAPS_XML))
    (d / "001.osm.gz").write_bytes(gzip.compress(b"<osm/>"))
    got = sorted((r.asDict() for r in read_replication(spark, str(d))
                  .collect()), key=lambda r: r["id"])
    assert got == [
        {"id": 1, "user": " pad ", "uid": "7",
         "created_at": "2020-01-01T00:00:00Z", "comments_count": "2",
         "min_lon": 1.5, "min_lat": -2.25, "max_lon": 3.0, "max_lat": 4.0,
         "tags": {"comment": " spaced ", "source": "last"}},
        {"id": 2, "user": "u", "uid": "9",
         "created_at": "2020-01-01T00:00:01Z", "comments_count": "0",
         "min_lon": None, "min_lat": None, "max_lon": None, "max_lat": None,
         "tags": {}},
    ]
    assert read_replication(spark, str(d / "001.osm.gz")).count() == 0
    assert read_replication(spark, str(d)).schema.simpleString() == (
        StructType.fromDDL(CHANGESETS_SCHEMA).simpleString())
    robust = sorted((r.asDict() for r in read_replication_robust(
        spark, str(d)).collect()), key=lambda r: r["id"])
    assert [r.pop("parse_error") for r in robust] == [None, None]
    assert all(r.pop("src_file").endswith("000.osm.gz") for r in robust)
    assert robust == got


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
