"""Replication-file source: gzipped changeset-XML batches → changesets rows.

Re-expresses ``ChangesetList.read_file`` + ``changeset_info``
(osmcha/changeset.py:213-228, 77-93) as a distributed scan with Spark's
built-in XML reader, so gunzip and parse run in the JVM and no Python
worker is forked. Files are independent (one ≈ one minute of edits), so
the scan is embarrassingly parallel.

The row tag is the root ``osm`` element, for strictness: the reader must
parse each document whole, so a file cut in half inside a valid gzip, or
``<osm><changeset``, raises. A ``changeset`` row tag silently returns the
changesets before the cut, or none. The cost is one record per file: a
file must fit in one task's memory, as it already had to when it was read
as one ``binaryFile`` value. Only ``<tag>`` children are read; any other
child of a ``<changeset>`` (a ``<discussion>``) is ignored.

The tag pivot keeps the reference's dict-zip last-wins override
(osmcha/changeset.py:84-93): a ``<tag k>`` named ``id``/``user``/``uid``/
``created_at``/``comments_count`` is dropped, because the attribute wins.
A repeated ``<tag k>`` keeps its last value, as the reference's dict does;
a tag without ``k`` is dropped; a changeset without tags gets ``{}``.
"""

from __future__ import annotations

import gzip

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CHANGESETS_SCHEMA = (
    "id long, user string, uid string, created_at string, "
    "comments_count string, min_lon double, min_lat double, "
    "max_lon double, max_lat double, tags map<string,string>"
)

_ATTRS = ("id", "user", "uid", "created_at", "comments_count")
_BBOX = ("min_lon", "min_lat", "max_lon", "max_lat")

# One ``osm`` record per file; PERMISSIVE mode fills ``_corrupt_record``.
_XML_SCHEMA = (
    "changeset array<struct<_id: long, "
    + "".join(f"_{a}: string, " for a in _ATTRS[1:])
    + "".join(f"_{a}: double, " for a in _BBOX)
    + "tag: array<struct<_k: string, _v: string>>>>, _corrupt_record string"
)


def _xml(reader, mode: str):
    """The one reader definition, for ``spark.read`` and
    ``spark.readStream``. Surrounding spaces are kept, as ElementTree
    keeps them."""
    return (
        reader.format("xml").schema(_XML_SCHEMA).option("rowTag", "osm")
        .option("ignoreSurroundingSpaces", "false").option("mode", mode)
    )


def _tags(tag: Column) -> Column:
    """``<tag>`` entries → the tags map (see the module docstring). The
    last value per key is picked in the expression, so no session-level
    ``mapKeyDedupPolicy`` is needed."""
    kept = F.filter(
        F.coalesce(tag, F.array()),
        lambda t: t["_k"].isNotNull() & ~t["_k"].isin(*_ATTRS),
    )
    keys = F.array_distinct(F.transform(kept, lambda t: t["_k"]))
    last = F.transform(
        keys,
        lambda k: F.element_at(F.filter(kept, lambda t: t["_k"] == k), -1),
    )
    return F.map_from_arrays(keys, F.transform(last, lambda t: t["_v"]))


def _changesets(osm: DataFrame, *keep: str) -> DataFrame:
    """``osm`` records of :func:`_xml` → one row per ``<changeset>`` (a
    NULL changeset gives NULL tags), carrying the ``keep`` columns."""
    c = F.col("c")
    return osm.select(F.explode("changeset").alias("c"), *keep).select(
        *(c[f"_{a}"].alias(a) for a in _ATTRS + _BBOX),
        F.when(c.isNotNull(), _tags(c["tag"])).alias("tags"), *keep)


def read_replication(spark: SparkSession, path: str) -> DataFrame:
    """Scan ``*.osm.gz`` replication files under ``path`` into the
    changesets schema.

    Strict (reference-parity) error behavior: a corrupt file fails the
    scan (``FAILFAST``), exactly as the reference's ``gzip.open`` +
    ElementTree would crash (osmcha/changeset.py:213-228). For the
    planet-scale pipeline where one bad minutely file must not poison a
    million-file scan, use :func:`read_replication_robust`."""
    return _changesets(_xml(spark.read, "FAILFAST").load(path))


def read_replication_robust(spark: SparkSession, path: str) -> DataFrame:
    """Planet-scale replication scan with per-file fault containment (the
    q53 decode_safe discipline applied to the source): the rows of
    :func:`read_replication` with ``parse_error`` NULL, plus ONE
    quarantine row per corrupt file (data columns NULL, ``src_file`` and
    ``parse_error`` set) instead of a failed task. Downstream routes the
    quarantine with an ordinary ``parse_error IS NOT NULL`` filter.

    A readable file yields one ``osm`` record, even ``<osm/>``, so
    malformed XML is one PERMISSIVE corrupt record → ``ParseError``. A
    file the codec cannot read (a truncated gzip) yields no record under
    ``ignoreCorruptFiles``; a content-free ``binaryFile`` listing finds it
    → ``ReadError``. A gzip that lacks only its 8-byte trailer (CRC-32
    and size) decompresses whole, so all its rows are kept here and
    nothing is quarantined, while the strict scan fails on it (pinned in
    tests/test_sources.py)."""
    # binaryFile's ``path`` is the decoded form; the join key is the
    # URL-encoded ``_metadata.file_path`` both scans share
    listing = spark.read.format("binaryFile").load(path).select(
        F.col("path").alias("src_file"),
        F.col("_metadata.file_path").alias("_file"),
    )
    osm = (
        _xml(spark.read, "PERMISSIVE")
        .option("ignoreCorruptFiles", "true")
        .load(path)
        .select(
            F.col("_metadata.file_path").alias("_file"),
            "changeset",
            "_corrupt_record",
            F.lit(True).alias("_read"),
        )
    )
    error = F.when(
        F.col("_read").isNull(),
        F.lit("ReadError: unreadable file (truncated or corrupt gzip)"),
    ).when(
        F.col("_corrupt_record").isNotNull(),
        F.lit("ParseError: malformed replication XML"),
    )
    files = listing.join(osm, "_file", "left").withColumn("parse_error", error)
    # a quarantined file explodes to one NULL changeset
    changeset = F.when(
        F.col("parse_error").isNull(), F.coalesce("changeset", F.array())
    ).otherwise(F.array(F.lit(None)))
    return _changesets(
        files.withColumn("changeset", changeset), "src_file", "parse_error"
    )


# Public replication endpoint the reference reads from (the docstring of
# ChangesetList.process_changeset_list, osmcha/changeset.py:197-200).
OSM_REPLICATION_BASE = (
    "https://planet.openstreetmap.org/replication/changesets"
)


def replication_base() -> str:
    """Default replication endpoint, honoring the ``OSM_SERVER_URL`` env
    override the same way the reference does for its API base
    (osmcha/changeset.py:34-38: ``environ.get('OSM_SERVER_URL', ...)``
    resolved at import; here resolved per call so tests can monkeypatch).
    With the var set, replication lives under
    ``$OSM_SERVER_URL/replication/changesets``."""
    import os

    server = os.environ.get("OSM_SERVER_URL")
    if server:
        return f"{server.rstrip('/')}/replication/changesets"
    return OSM_REPLICATION_BASE


def replication_url(seq: int, base: str | None = None) -> str:
    """Sequence number → replication file URL: seq 2703456 lives at
    ``<base>/002/703/456.osm.gz`` (three zero-padded path segments of the
    9-digit sequence). ``base`` defaults to :func:`replication_base`
    (env-overridable)."""
    base = base if base is not None else replication_base()
    s = f"{seq:09d}"
    return f"{base}/{s[0:3]}/{s[3:6]}/{s[6:9]}.osm.gz"


def fetch_replication(
    seqs: "int | tuple[int, int] | list[int]",
    dest_dir: str,
    base: str | None = None,
) -> list[str]:
    """Driver-side download of replication files (SURVEY §2.1 S2) —
    mirrors ``ChangesetList.read_file``'s urlretrieve-to-tmpdir path
    (osmcha/changeset.py:220-228), but into a caller-owned ``dest_dir``
    that ``read_replication`` / the streaming source then scan. Stdlib
    urllib only; ``seqs`` is a single sequence, an inclusive (lo, hi)
    range, or an explicit list. Returns the local paths, in seq order.

    Deliberately driver-side: the download is an ingest step (~1 file per
    minute of planet edits), not a distributed compute step — at backfill
    scale you parallelize by splitting the seq range across *jobs*, each
    landing files where its executors' scan can see them.
    """
    import os
    from urllib.request import urlretrieve

    if isinstance(seqs, int):
        seq_list = [seqs]
    elif isinstance(seqs, tuple):
        lo, hi = seqs
        seq_list = list(range(lo, hi + 1))
    else:
        seq_list = list(seqs)
    os.makedirs(dest_dir, exist_ok=True)
    out = []
    for seq in seq_list:
        local = os.path.join(dest_dir, f"{seq:09d}.osm.gz")
        urlretrieve(replication_url(seq, base), local)
        out.append(local)
    return out


def write_replication_gz(rows: "list[dict]", path: str) -> None:
    """Serialize changeset rows back to the replication wire format
    (gzipped ``<osm><changeset …><tag …/></changeset></osm>``) — the
    inverse of :func:`read_replication`, for harnesses and tests that need
    scenario rows to ARRIVE as a replication batch. ``rows`` follow the
    CHANGESETS_SCHEMA field names; bbox attrs are omitted when None/NaN
    (the relation-only changeset shape)."""
    import math
    import xml.etree.ElementTree as ET

    root = ET.Element("osm")
    for r in rows:
        attrs = {
            "id": str(r["id"]),
            "user": r["user"] or "",
            "uid": r["uid"] or "",
            "created_at": r["created_at"] or "",
            "comments_count": str(r["comments_count"]),
        }
        for a in ("min_lon", "min_lat", "max_lon", "max_lat"):
            v = r.get(a)
            if v is not None and not (
                isinstance(v, float) and math.isnan(v)
            ):
                attrs[a] = repr(float(v))
        ch = ET.SubElement(root, "changeset", attrs)
        for k, v in (r.get("tags") or {}).items():
            ET.SubElement(ch, "tag", {"k": k, "v": v})
    with gzip.open(path, "wb") as f:
        f.write(ET.tostring(root, encoding="utf-8"))
