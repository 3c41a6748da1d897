"""Deterministic fixture synthesis (seed-free: pure literals + arithmetic).

Re-encodes, as Spark/DuckDB-readable parquet, exactly what the reference's
tests feed it:

- the 25 changesets of ``tests/245.osm.gz`` (attributes + tags transcribed
  from the fixture; first row asserted at reference tests/test_mod.py:40-50),
- the hand-built dict scenarios of tests/test_mod.py:65-503,729-924
  (word rules, editor matrix, review_requested, warning tags),
- per-changeset action counts encoding the live-API tests' documented
  create/modify/delete numbers (docstrings at tests/test_mod.py:516-588),
- the users dimension replacing the live ``get_user_details`` call,
- the AOI ring of ``tests/map.geojson`` (golden: exactly changeset 31982803
  survives, tests/test_mod.py:53-57) plus concave + sliver rings for PIP
  edge cases.

Written once to ``tests/data/``; the DuckDB oracle reads the same files via
``read_parquet``. The 25 changesets are also serialized back to the
replication wire format as ``tests/data/245.osm.gz`` (generated, never
vendored), the input of every replication-source and streaming test.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_BBOX = (-71.0646843, 44.2371354, -71.0048652, 44.2430624)
AOI_RING = [
    (-71.3616943359375, 44.039231511913094),
    (-71.3616943359375, 44.3906169787868),
    (-70.72311401367188, 44.3906169787868),
    (-70.72311401367188, 44.039231511913094),
    (-71.3616943359375, 44.039231511913094),
]
# concave "C" shape and a thin sliver for exact-predicate edge cases
AOI_CONCAVE = [
    (0.0, 0.0), (4.0, 0.0), (4.0, 1.0), (1.0, 1.0), (1.0, 3.0),
    (4.0, 3.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0),
]
AOI_SLIVER = [
    (10.0, 10.0), (12.0, 12.0), (12.000001, 12.0), (10.000001, 10.0),
    (10.0, 10.0),
]

_TS = "2015-04-25T18:08:46Z"


def _row(id_, tags, bbox=FIXTURE_BBOX, user="JustTest", uid="123123",
         created_at=_TS, comments_count="0"):
    min_lon, min_lat, max_lon, max_lat = bbox if bbox else (None,) * 4
    return {
        "id": id_, "user": user, "uid": uid, "created_at": created_at,
        "comments_count": comments_count,
        "min_lon": min_lon, "min_lat": min_lat,
        "max_lon": max_lon, "max_lat": max_lat,
        "tags": tags,
    }


# The 25 rows of the reference replication fixture (tests/245.osm.gz),
# transcribed attribute-for-attribute and tag-for-tag.
def _fixture_245() -> list[dict]:
    rows = [
        (31982803, "GarrettB", "352373", "2015-06-15T12:32:11Z", "0",
         (-71.0646843, 44.2371354, -71.0048652, 44.2430624),
         {"version": "2.3", "created_by": "Potlatch 2",
          "comment": "Added Emerald Pool Waterfall",
          "build": "2.3-650-gad99430"}),
        (31984152, "Amjad Shahrour", "2651528", "2015-06-15T13:33:18Z", "0",
         (35.6153694, 31.7716708, 35.9571553, 32.0725183),
         {"created_by": "JOSM/1.5 (8339 en)", "comment": "Roads"}),
        (31984163, "streetkeysmv", "2684092", "2015-06-15T13:33:52Z", "0",
         (12.2916203, 53.5919625, 12.3956722, 53.6385968),
         {"comment": "Hinzufügen der offiziellen deutschen Strassenschlüssel"
          " zu highways in Gemeinde: Dobbin-Linstow wo eine Zuordnung"
          " möglich ist.", "created_by": "streetkeysmv"}),
        (31984167, "Angrycat", "864907", "2015-06-15T13:34:07Z", "0",
         (38.002256, 55.618117, 38.0148474, 55.6200461),
         {"created_by": "JOSM/1.5 (8339 ru)"}),
        (31984168, "wille", "360183", "2015-06-15T13:34:08Z", "0",
         (-47.880627, -15.7604442, -47.8781354, -15.7591786),
         {"comment": "cuisines", "locale": "pt-BR",
          "host": "http://www.openstreetmap.org/id",
          "imagery_used": "IBGE Mapa de Setores Urbanos",
          "created_by": "iD 1.7.3"}),
        (31984169, "sprok", "94627", "2015-06-15T13:34:11Z", "0",
         (19.0479982, 47.3596543, 19.0479982, 47.3596543),
         {"created_by": "JOSM/1.5 (8339 en)", "comment": "BTS stations"}),
        (31984170, "uboot", "26299", "2015-06-15T13:34:16Z", "0",
         (8.2413855, 51.5624412, 8.2437371, 51.5626976),
         {"source": "taginfo, Bing", "created_by": "JOSM/1.5 (8489 de)",
          "comment": "typo in tag"}),
        (31984171, "fimmy1", "352475", "2015-06-15T13:34:17Z", "0",
         (21.0208935, 42.6724425, 21.0536416, 42.6826061),
         {"locale": "en-US", "host": "https://www.openstreetmap.org/id",
          "imagery_used": "Bing", "created_by": "iD 1.7.3"}),
        (31984172, "geocorreiosgo", "2647840", "2015-06-15T13:34:18Z", "0",
         (-48.6649889, -17.7168421, -48.6645768, -17.7165393),
         {"locale": "pt-BR", "host": "https://www.openstreetmap.org/id",
          "imagery_used": "Custom (http://{switch:a,b,c}.tiles.mapbox.com/"
          "v3/tmpsantos.hgda0m6h/{zoom}/{x}/{y}.png)",
          "created_by": "iD 1.7.3"}),
        (31984173, "lenford", "1760047", "2015-06-15T13:34:19Z", "0",
         (-76.868641, 17.9739097, -76.8685916, 17.9740246),
         {"comment": "make road segment one way", "locale": "en-US",
          "host": "http://www.openstreetmap.org/id", "imagery_used": "Bing",
          "created_by": "iD 1.7.3"}),
        (31984174, "jupe", "1776672", "2015-06-15T13:34:22Z", "0",
         (27.3251351, 61.7027861, 27.3254699, 61.7030733),
         {"locale": "en-US", "host": "https://www.openstreetmap.org/id",
          "imagery_used": "Bing", "created_by": "iD 1.7.3"}),
        (31984175, "Odilo", "68665", "2015-06-15T13:34:25Z", "0",
         (127.843706, -16.3097299, 127.9894799, -15.6402021),
         {"created_by": "Potlatch 2", "build": "2.3-650-gad99430",
          "version": "2.3", "comment": "Kimberleys Pentecost River"}),
        (31984176, "MZ_Martin1988", "1899517", "2015-06-15T13:34:29Z", "0",
         (11.6485417, 50.8590004, 11.6485417, 50.8590004),
         {"locale": "de", "host": "https://www.openstreetmap.org/id",
          "imagery_used": "Bing", "created_by": "iD 1.7.3"}),
        (31984177, "uboot", "26299", "2015-06-15T13:34:32Z", "0",
         (-6.0300607, 40.4339027, -6.025993, 40.4350623),
         {"source": "taginfo, Bing", "created_by": "JOSM/1.5 (8489 de)",
          "comment": "typo in tag"}),
        (31984178, "jupe", "1776672", "2015-06-15T13:34:34Z", "0",
         (27.3251972, 61.7027666, 27.3254721, 61.7030639),
         {"locale": "en-US", "host": "https://www.openstreetmap.org/id",
          "imagery_used": "Bing", "created_by": "iD 1.7.3"}),
        (31984179, "ua45tj", "2671193", "2015-06-15T13:34:34Z", "0",
         (27.5383204, 53.8820688, 27.5413027, 53.8834194),
         {"source": "knowledge", "created_by": "JOSM/1.5 (7643 ru)",
          "comment": "added entrances to building"}),
        (31984180, "Frederico98", "2914115", "2015-06-15T13:34:35Z", "0",
         (11.5377252, 45.2888745, 11.5382246, 45.2895899),
         {"locale": "it", "host": "https://www.openstreetmap.org/id",
          "imagery_used": "Bing", "created_by": "iD 1.7.3"}),
        (31984181, "Joško Horvat", "2146151", "2015-06-15T13:34:37Z", "0",
         (14.5017092, 46.0330196, 14.5018996, 46.03382),
         {"comment": "Situla", "locale": "sl",
          "host": "https://www.openstreetmap.org/id", "imagery_used": "Bing",
          "created_by": "iD 1.7.3"}),
        (31984182, "cartolannion", "2534589", "2015-06-15T13:34:41Z", "0",
         (-3.4686392, 48.7458801, -3.4686392, 48.7458801),
         {"comment": "table de piquenique", "locale": "fr",
          "host": "https://www.openstreetmap.org/id", "imagery_used": "Bing",
          "created_by": "iD 1.7.3"}),
        (31984183, "Luis36995", "1829683", "2015-06-15T13:34:47Z", "0",
         (-84.0597552, 41.8935419, -84.05819, 41.8937946),
         {"source": "Bing", "created_by": "JOSM/1.5 (7906 es)",
          "comment": "Fixing missing/misaligned Tiger with to-fix"
          " http://osmlab.github.io/to-fix/?error=tigerdelta-named"}),
        (31984184, "geocorreiosgo", "2647840", "2015-06-15T13:34:49Z", "0",
         (-48.666273, -17.7183705, -48.6629071, -17.7166723),
         {"locale": "pt-BR", "host": "https://www.openstreetmap.org/id",
          "imagery_used": "Custom (http://{switch:a,b,c}.tiles.mapbox.com/"
          "v3/tmpsantos.hgda0m6h/{zoom}/{x}/{y}.png)",
          "created_by": "iD 1.7.3"}),
        (31984185, "fkv", "302363", "2015-06-15T13:34:49Z", "0",
         (16.4046245, 47.3124507, 16.4046245, 47.3124507),
         {"comment": "Katasternr.", "created_by": "Merkaartor 0.18 (de)"}),
        (31984186, "uboot", "26299", "2015-06-15T13:34:54Z", "0",
         (-2.1364604, 46.822311, -2.1364507, 46.8229702),
         {"source": "taginfo, Bing", "created_by": "JOSM/1.5 (8489 de)",
          "comment": "typo in tag"}),
        (31984187, "lodde1949", "138772", "2015-06-15T13:34:58Z", "0",
         (4.8029147, 51.0409792, 4.8076571, 51.0416553),
         {"source": "source=Agiv CRAB", "created_by": "JOSM/1.5 (8339 nl)"}),
        (31984188, "caio", "93702", "2015-06-15T13:35:01Z", "0",
         (-49.2712001, -25.4246187, -49.2708725, -25.4245605),
         {"locale": "pt-BR", "host": "https://www.openstreetmap.org/id",
          "imagery_used": "Bing", "created_by": "iD 1.7.3"}),
    ]
    return [
        _row(i, tags, bbox=(mnx, mny, mxx, mxy), user=u, uid=uid,
             created_at=ts, comments_count=cc)
        for (i, u, uid, ts, cc, (mnx, mny, mxx, mxy), tags) in rows
    ]


def _scenarios() -> list[dict]:
    """Hand-built rule scenarios mirroring the reference's dict tests."""
    P2 = {"created_by": "Potlatch 2", "build": "2.3-650-gad99430",
          "version": "2.3"}
    rows = [
        # word rules (tests/test_mod.py:122-268)
        _row(1001, {**P2, "comment": "Put data from Google"},
             comments_count="12"),
        _row(1002, {**P2, "source": "Waze"}),
        _row(1003, {**P2, "source": "Bing", "imagery_used":
             "Custom (http://{switch:a,b,c}.tiles.googlemaps.com/"
             "{zoom}/{x}/{y}.png)"}),
        _row(1004, {**P2, "comment": "Somewhere in Brazil"}),
        _row(1005, {**P2, "comment": "Somewhere in Brazil",
                    "source": "Yandex Panorama"}, comments_count="1"),
        _row(1006, {**P2, "comment": "Somewhere in Brazil",
                    "source": "Яндекс.Панорамы"}, comments_count="1"),
        _row(1007, {**P2, "comment": "Somewhere in Brazil",
                    "source": "Яндекс Панорамы"}, comments_count="1"),
        # editor matrix (tests/test_mod.py:271-502)
        _row(1010, {"created_by": "JOSM/1.5 (8339 en)", "comment": "add pois"},
             comments_count="3"),
        _row(1011, {"created_by": "Merkaartor 0.18 (de)",
                    "comment": "add pois"}, comments_count="3"),
        _row(1012, {"created_by": "Level0 v1.1", "comment": "add pois"}),
        _row(1013, {"created_by": "QGIS plugin", "comment": "add pois"}),
        _row(1014, {"created_by": "iD 1.7.3", "comment": "add pois",
                    "host": "https://www.openstreetmap.org/edit"},
             comments_count="1"),
        _row(1015, {"created_by": "iD 2.17.3", "comment": "add pois",
                    "host": "https://ideditor.netlify.app/"},
             comments_count="4"),
        _row(1016, {"created_by": "Potlatch 2", "comment": "add pois"}),
        _row(1017, {"comment": "add pois"}),  # editor missing
        # review requested (tests/test_mod.py:729-748)
        _row(1020, {"created_by": "Potlatch 2", "comment": "add pois",
                    "review_requested": "yes"}, comments_count="1"),
        # warning tags (tests/test_mod.py:751-903)
        _row(1021, {"created_by": "iD", "comment": "add pois",
                    "host": "https://www.openstreetmap.org/edit",
                    "warnings:almost_junction:highway-highway": "1",
                    "warnings:missing_role": "1",
                    "warnings:missing_tag:any": "1",
                    "warnings:private_data": "1",
                    "warnings:mismatched_geometry": "1",
                    "warnings:unsquare_way": "1"}, comments_count="3"),
        _row(1022, {"created_by": "iD", "comment": "add pois",
                    "host": "https://www.openstreetmap.org/edit",
                    "warnings:close_nodes:detached": "1"},
             comments_count="13"),
        _row(1023, {"created_by": "iD", "comment": "add pois",
                    "host": "https://www.openstreetmap.org/edit",
                    "warnings:crossing_ways:building-building": "1"}),
        _row(1024, {"created_by": "iD", "comment": "add pois",
                    "host": "https://www.openstreetmap.org/edit",
                    "warnings:disconnected_way:highway": "4",
                    "warnings:suspicious_name:generic_name": "4",
                    "warnings:impossible_oneway:highway": "4",
                    "warnings:incompatible_source": "4",
                    "warnings:outdated_tags:incomplete_tags": "9"},
             comments_count="2"),
        _row(1025, {"created_by": "iD", "comment": "add pois",
                    "host": "https://www.openstreetmap.org/edit",
                    "warnings:fix_me": "0"}, comments_count="3"),
        _row(1026, {"created_by": "iD", "comment": "add pois",
                    "host": "https://www.openstreetmap.org/edit",
                    "warnings:invalid_format": "0"}),
        _row(1027, {"created_by": "iD", "comment": "add pois", "host": ""}),
        # user rules
        _row(1030, {"created_by": "Potlatch 2", "comment": "add pois"},
             uid="9002"),  # multi-blocked
        _row(1031, {"created_by": "Potlatch 2", "comment": "add pois"},
             uid="9001"),  # new mapper
        _row(1032, {"created_by": "Potlatch 2", "comment": "add pois"},
             uid="9999"),  # absent user row → no flags
        # empty bbox (POLYGON EMPTY, tests/test_mod.py:116-119)
        _row(1040, {"created_by": "Potlatch 2", "comment": "deleted relation"},
             bbox=None),
        # metadata shape (tests/test_mod.py:65-90)
        _row(1041, {**P2, "comment": "Put data from Google"},
             comments_count="12"),
    ]
    # count-rule scenarios: ids + editors matching the live-test docstrings
    count_rows = [
        (32663070, "iD 1.7.3", "9000", "add pois", None),
        (10013029, "JOSM/1.5 (8339 en)", "9001", "add pois", None),
        (19863853, "Potlatch 2", "9000", "add pois", None),
        (31450443, "Potlatch 2", "9000", "add pois", None),
        (45901540, "iD 2.4.3", "9000", "add pois", None),
        (45082154, "JOSM/1.5 (8339 en)", "9000", "add pois", None),
        (45862717, "iD 2.4.3", "9000", "add pois", None),
        (34495147, "Potlatch 2", "9000", "add pois", None),  # redacted
        (45632780, "JOSM/1.5 (8339 en)", "9000", "import buildings",
         "google map import"),
    ]
    for cid, editor, uid, comment, source in count_rows:
        tags = {"created_by": editor, "comment": comment}
        if source:
            tags["source"] = source
        rows.append(_row(cid, tags, uid=uid))
    return rows


# (changeset_id, create, modify, delete) from the reference live-test
# docstrings (tests/test_mod.py:505-605 and tests/test_cli.py:10-18).
ACTION_COUNTS = [
    (32663070, 8, 3, 2),
    (10013029, 1900, 16, 320),
    (19863853, 322, 1115, 140),
    (31450443, 0, 0, 1019),
    (45901540, 0, 0, 61),
    (45082154, 481, 620, 80),
    (45862717, 1072, 124, 282),
    (34495147, 0, 0, 0),
    (45632780, 47, 0, 0),
    (31984168, 0, 5, 0),
]

USERS = [
    # uid, changeset_count, block_count
    ("9000", 6000, 0),   # veteran
    ("9001", 10, 0),     # new mapper (≤50)
    ("9002", 5000, 2),   # multiple blocks (>1)
    ("352373", 6000, 0), # GarrettB, veteran
]


def changesets_rows() -> list[dict]:
    return _fixture_245() + _scenarios()


def actions_rows() -> list[dict]:
    out = []
    for cid, c, m, d in ACTION_COUNTS:
        out.extend({"changeset_id": cid, "action": "create"} for _ in range(c))
        out.extend({"changeset_id": cid, "action": "modify"} for _ in range(m))
        out.extend({"changeset_id": cid, "action": "delete"} for _ in range(d))
    return out


_CS_SCHEMA = pa.schema([
    ("id", pa.int64()), ("user", pa.string()), ("uid", pa.string()),
    ("created_at", pa.string()), ("comments_count", pa.string()),
    ("min_lon", pa.float64()), ("min_lat", pa.float64()),
    ("max_lon", pa.float64()), ("max_lat", pa.float64()),
    ("tags", pa.map_(pa.string(), pa.string())),
    # flattened tag columns for the SQL oracle (engine path uses the map)
    ("created_by", pa.string()), ("comment", pa.string()),
    ("source", pa.string()), ("imagery_used", pa.string()),
    ("host", pa.string()), ("review_requested", pa.string()),
    ("warning_keys", pa.list_(pa.string())),
])


def write_fixtures(data_dir: str) -> None:
    os.makedirs(data_dir, exist_ok=True)

    cs = changesets_rows()
    for r in cs:
        t = r["tags"]
        r["created_by"] = t.get("created_by")
        r["comment"] = t.get("comment")
        r["source"] = t.get("source")
        r["imagery_used"] = t.get("imagery_used")
        r["host"] = t.get("host")
        r["review_requested"] = t.get("review_requested")
        r["warning_keys"] = [k for k in t if k.startswith("warnings:")]
        r["tags"] = list(t.items())
    pq.write_table(
        pa.Table.from_pylist(cs, schema=_CS_SCHEMA),
        os.path.join(data_dir, "changesets.parquet"),
    )

    pq.write_table(
        pa.Table.from_pylist(
            actions_rows(),
            schema=pa.schema(
                [("changeset_id", pa.int64()), ("action", pa.string())]
            ),
        ),
        os.path.join(data_dir, "actions.parquet"),
    )

    pq.write_table(
        pa.Table.from_pylist(
            [
                {"uid": u, "changeset_count": c, "block_count": b}
                for u, c, b in USERS
            ],
            schema=pa.schema([
                ("uid", pa.string()), ("changeset_count", pa.int32()),
                ("block_count", pa.int32()),
            ]),
        ),
        os.path.join(data_dir, "users.parquet"),
    )

    from osmcha_spark.images.corpus import write_images_parquet

    write_images_parquet(os.path.join(data_dir, "images.parquet"), 160)

    pq.write_table(
        pa.Table.from_pylist(
            [
                {"aoi_id": name,
                 "ring": [{"lon": x, "lat": y} for x, y in ring]}
                for name, ring in [
                    ("map", AOI_RING), ("concave", AOI_CONCAVE),
                    ("sliver", AOI_SLIVER),
                ]
            ],
            schema=pa.schema([
                ("aoi_id", pa.string()),
                ("ring", pa.list_(pa.struct(
                    [("lon", pa.float64()), ("lat", pa.float64())]
                ))),
            ]),
        ),
        os.path.join(data_dir, "aoi.parquet"),
    )

    write_multimodal_fixtures(data_dir)
    write_replication_fixture(data_dir)


REPLICATION_FIXTURE = "245.osm.gz"


def write_replication_fixture(data_dir: str) -> None:
    """Serialize the transcribed 25 rows of 245.osm.gz with
    ``write_replication_gz`` (tmp + rename, so a concurrent reader never
    sees half a file)."""
    from osmcha_spark.sources.replication import write_replication_gz

    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, REPLICATION_FIXTURE)
    tmp = f"{path}.tmp-{os.getpid()}"
    write_replication_gz(_fixture_245(), tmp)
    os.replace(tmp, path)


def write_multimodal_fixtures(data_dir: str) -> None:
    """audio.parquet / video.parquet with EXPECTED feature columns stored
    at generation time (computed from the raw sample/frame arrays before
    byte-encoding) — the oracle reads the stored columns, the engine
    recomputes them by decoding the bytes (same pattern as the images
    fixture's stored phash)."""
    import numpy as np

    from osmcha_spark.images.multimodal import (
        audio_rows_for_batch,
        video_rows_for_batch,
    )

    adf = audio_rows_for_batch(np.arange(48))
    arows = []
    for _, r in adf.iterrows():
        s = np.frombuffer(r["bytes"], dtype="<i2").astype(np.float64)
        zc = int(np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1])))
        arows.append({
            **{k: r[k] for k in ("audio_id", "bytes", "sample_rate",
                                 "n_samples", "fmt", "caption")},
            "exp_duration_s": len(s) / float(r["sample_rate"]),
            "exp_rms": float(np.sqrt(np.mean(s * s))),
            "exp_zcr": zc / max(len(s) - 1, 1),
            "exp_peak": int(np.max(np.abs(s))),
        })
    pq.write_table(
        pa.Table.from_pylist(arows, schema=pa.schema([
            ("audio_id", pa.string()), ("bytes", pa.binary()),
            ("sample_rate", pa.int32()), ("n_samples", pa.int32()),
            ("fmt", pa.string()), ("caption", pa.string()),
            ("exp_duration_s", pa.float64()), ("exp_rms", pa.float64()),
            ("exp_zcr", pa.float64()), ("exp_peak", pa.int32()),
        ])),
        os.path.join(data_dir, "audio.parquet"),
    )

    from osmcha_spark.images.multimodal import SHOT_THR

    vdf = video_rows_for_batch(np.arange(24))
    vrows = []
    for _, r in vdf.iterrows():
        frames = np.frombuffer(r["bytes"], dtype=np.uint8).reshape(
            r["n_frames"], r["h"], r["w"], 3
        )
        # the q113 expectation, computed with the SAME integer rule the
        # engine applies (frame_sads/shot_cuts): SAD between consecutive
        # frames, cut iff sad > SHOT_THR · w·h·3
        a = frames.astype(np.int64)
        sads = np.abs(a[1:] - a[:-1]).sum(axis=(1, 2, 3))
        denom = int(r["w"]) * int(r["h"]) * 3
        cut_idx = [i for i, s in enumerate(sads, start=1)
                   if int(s) > SHOT_THR * denom]
        vrows.append({
            **{k: r[k] for k in ("video_id", "bytes", "w", "h", "n_frames",
                                 "fps", "fmt", "caption")},
            "exp_mean_r0": float(frames[0, :, :, 0].mean()),
            "exp_mean_g0": float(frames[0, :, :, 1].mean()),
            "exp_mean_b0": float(frames[0, :, :, 2].mean()),
            "exp_n_cuts": len(cut_idx),
            "exp_first_cut": cut_idx[0] if cut_idx else -1,
        })
    pq.write_table(
        pa.Table.from_pylist(vrows, schema=pa.schema([
            ("video_id", pa.string()), ("bytes", pa.binary()),
            ("w", pa.int32()), ("h", pa.int32()),
            ("n_frames", pa.int32()), ("fps", pa.float64()),
            ("fmt", pa.string()), ("caption", pa.string()),
            ("exp_mean_r0", pa.float64()), ("exp_mean_g0", pa.float64()),
            ("exp_mean_b0", pa.float64()),
            ("exp_n_cuts", pa.int32()), ("exp_first_cut", pa.int32()),
        ])),
        os.path.join(data_dir, "video.parquet"),
    )


DEFAULT_DATA_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "data")


def ensure_fixtures(data_dir: str | None = None) -> str:
    data_dir = os.path.abspath(data_dir or DEFAULT_DATA_DIR)
    marker = os.path.join(data_dir, "changesets.parquet")
    if not os.path.exists(marker):
        write_fixtures(data_dir)
    elif not os.path.exists(os.path.join(data_dir, REPLICATION_FIXTURE)):
        write_replication_fixture(data_dir)
    return data_dir


def replication_fixture(data_dir: str | None = None) -> str:
    """Path of the generated ``245.osm.gz``, written on first use."""
    return os.path.join(ensure_fixtures(data_dir), REPLICATION_FIXTURE)


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_DATA_DIR
    write_fixtures(os.path.abspath(out))
    print(f"fixtures written to {os.path.abspath(out)}")
