"""Operator tests: kNN exactness vs brute force, raster↔vector join,
salting equivalence, image UDF round-trips, dedup family, similarity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmcha_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_candidates,
    minhash_signatures,
    simhash,
)
from osmcha_spark.operators.dedup_images import phash_near_dup_pairs
from osmcha_spark.operators.knn import knn_join
from osmcha_spark.operators.similarity import brute_topk, cosine_topk, lsh_topk
from osmcha_spark.operators.text import fingerprint, lang_id, quality_score, token_count
from osmcha_spark.operators.tiles import (
    changesets_with_cells,
    salted_join,
    tile_changeset_join,
    tiles_with_cells,
)


def _synth_points(n=200):
    """Deterministic clustered points."""
    rng = np.random.default_rng(7)
    base = rng.uniform([-10, -10], [10, 10], size=(n, 2))
    base[: n // 4] = rng.normal([2.0, 3.0], 0.05, size=(n // 4, 2))
    return [(i, float(x), float(y)) for i, (x, y) in enumerate(base)]


def test_knn_exact_vs_brute(spark):
    pts = _synth_points(200)
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    k, radius = 5, 0.5
    got = {
        (r["left_id"], r["rank"]): r["right_id"]
        for r in knn_join(df, k=k, radius=radius).collect()
    }
    a = df.selectExpr("id as left_id", "lon lx", "lat ly")
    b = df.selectExpr("id as right_id", "lon rx", "lat ry")
    dist = F.sqrt((F.col("lx") - F.col("rx")) ** 2 + (F.col("ly") - F.col("ry")) ** 2)
    from pyspark.sql import Window

    w = Window.partitionBy("left_id").orderBy("dist", "right_id")
    brute = {
        (r["left_id"], r["rank"]): r["right_id"]
        for r in (
            a.crossJoin(b)
            .where(F.col("left_id") != F.col("right_id"))
            .select("left_id", "right_id", dist.alias("dist"))
            .where(F.col("dist") <= radius)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        ).collect()
    }
    assert got == brute and len(got) > 100


def test_tile_changeset_join(spark, tables, data_dir):
    import os

    images = spark.read.parquet(os.path.join(data_dir, "images.parquet"))
    tiles = tiles_with_cells(images, F.col("lon"), F.col("lat"), 7)
    # changeset bbox around NYC hotspot
    cs = spark.createDataFrame(
        [(1, -74.1, 40.6, -73.9, 40.8), (2, 10.0, 10.0, 10.1, 10.1)],
        "id long, min_lon double, min_lat double, max_lon double, max_lat double",
    )
    out = tile_changeset_join(tiles.select("cell", "image_id"), cs, 7)
    rows = out.groupBy("changeset_id").count().collect()
    by_id = {r["changeset_id"]: r["count"] for r in rows}
    assert by_id.get(1, 0) > 0  # NYC hotspot images land in bbox cells

    # salted join produces the identical result set
    dim = changesets_with_cells(cs, 7).select(
        "cell", F.col("id").alias("changeset_id")
    )
    fact = tiles.select("cell", "image_id")
    plain = fact.join(dim, "cell").select("image_id", "changeset_id")
    salted = salted_join(
        fact, dim, key="cell", nsalt=4, fact_salt_source="image_id"
    ).select("image_id", "changeset_id")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_image_udfs_roundtrip(spark, data_dir):
    import os

    from osmcha_spark.images.udfs import decode_pixels_udf, phash_udf, psnr_udf
    from osmcha_spark.images.corpus import pixels_for, row_for

    images = spark.read.parquet(os.path.join(data_dir, "images.parquet"))
    dec = images.withColumn(
        "px", decode_pixels_udf(F.col("bytes"), F.col("fmt"))
    ).select("image_id", "w", "h", "fmt", "phash", "px.*", "bytes")
    from osmcha_spark.images.codec import decode_image

    rows = dec.collect()
    assert len(rows) == 160
    for r in rows[:40]:
        idx = int(r["image_id"][3:])
        got = np.frombuffer(r["pixels"], dtype=np.uint8).reshape(
            r["h"], r["w"], 3
        )
        # UDF plumbing returns exactly what the codec decodes
        assert np.array_equal(got, decode_image(bytes(r["bytes"]), r["fmt"]))
        if idx % 37 == 1:
            continue  # planted near-dup rows perturb the base pattern
        orig = pixels_for(idx, r["w"], r["h"])
        if r["fmt"] == "qnt":
            mse = np.mean((orig.astype(float) - got.astype(float)) ** 2)
            assert 10 * np.log10(255**2 / mse) >= 40.0
        else:
            assert np.array_equal(orig, got)

    # engine-recomputed phash equals stored phash on lossless fmts
    ph = images.where(F.col("fmt") != "qnt").withColumn(
        "ph2", phash_udf(F.col("bytes"), F.col("fmt"))
    )
    assert ph.where(F.col("ph2") != F.col("phash")).count() == 0

    # PSNR invariant: re-encode to qnt, decoded pixels within spec
    from osmcha_spark.images.udfs import resize_block_udf

    small = images.limit(8).withColumn(
        "small", resize_block_udf(2)(F.col("bytes"), F.col("fmt"))
    )
    assert small.where(F.col("small").isNull()).count() == 0


def test_phash_near_dup_exact(spark, data_dir):
    import os

    images = spark.read.parquet(os.path.join(data_dir, "images.parquet"))
    got = {
        (r["a"], r["b"])
        for r in phash_near_dup_pairs(images, max_hamming=3).collect()
    }
    rows = images.select("image_id", "phash").collect()
    brute = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            h = bin(
                (rows[i]["phash"] ^ rows[j]["phash"]) & 0xFFFFFFFFFFFFFFFF
            ).count("1")
            if h <= 3:
                a, b = sorted([rows[i]["image_id"], rows[j]["image_id"]])
                brute.add((a, b))
    assert got == brute


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (3, "the quick brown fox jumped over the lazy dog"),  # near dup
    (4, "completely different content about spark engines"),
    (5, "der hund und die katze sind nicht hier"),
    (6, "le chat et les chiens est une merveille"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs_df):
    out = {r["rep_id"]: r["n_copies"] for r in exact_dedup(docs_df).collect()}
    assert out[1] == 2  # doc 2 collapsed into 1
    assert 2 not in out


def test_jaccard_pairs(docs_df):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_pairs(docs_df, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7
    assert all(4 not in p for p in pairs)


def test_minhash_lsh(docs_df):
    sigs = minhash_signatures(docs_df)
    assert sigs.count() == 6
    cands = {
        (r["a"], r["b"]) for r in minhash_candidates(sigs).collect()
    }
    assert (1, 2) in cands  # identical texts always collide
    assert (1, 4) not in cands


def test_simhash(docs_df):
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs_df).collect()}
    assert out[1] == out[2]
    h13 = bin((out[1] ^ out[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
    h14 = bin((out[1] ^ out[4]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert h13 < h14


def test_similarity_topk(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(60, 16)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_topk(df, queries, k=3).collect()
    }
    # numpy oracle with the same quantization
    q = np.round(vecs.astype(np.float64) * 1024)
    scores = q @ q.T
    for qi in range(5):
        order = sorted(
            [(int(-scores[qi, j]), j) for j in range(60) if j != qi]
        )
        for rank in range(1, 4):
            assert got[(qi, rank)] == order[rank - 1][1]

    cos = cosine_topk(df, queries, k=3)
    assert cos.count() == 15

    # LSH recall on data with real structure: near-identical twins must be
    # found (random uniform vectors have no meaningful neighbors to recall)
    base = rng.normal(size=(20, 16))
    twins = base + rng.normal(scale=0.01, size=base.shape)
    allv = np.vstack([base, twins]).astype(np.float32)
    allv /= np.linalg.norm(allv, axis=1, keepdims=True)
    df2 = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(allv)],
        "vec_id long, embedding array<float>",
    )
    q2 = df2.where(F.col("vec_id") < 10)  # 10 base vectors
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in lsh_topk(df2, q2, k=1, n_bits=8).collect()
    }
    found = sum(
        1 for qi in range(10) if approx.get((qi, 1)) == qi + 20
    )
    assert found >= 8  # twin sits in the same/adjacent bucket almost always


def test_text_ops(docs_df):
    tc = {r["doc_id"]: r for r in token_count(docs_df).collect()}
    assert tc[1]["n_ws_tokens"] == 9
    q = {r["doc_id"]: r for r in quality_score(docs_df).collect()}
    assert q[1]["stopword_ratio"] > q[5]["stopword_ratio"]
    lid = {r["doc_id"]: r["predicted_lang"] for r in lang_id(docs_df).collect()}
    assert lid[1] == "en" and lid[5] == "de" and lid[6] == "fr"
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs_df).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[3]


def test_corpus_batch_matches_scalar():
    """rows_for_batch is the hot-path generator (vectorized); row_for is the
    scalar spec. They must agree byte-for-byte on every column — including
    planted near-dup rows, every (w, h) dim group, and huge indices."""
    import numpy as np

    from osmcha_spark.images.corpus import row_for, rows_for_batch

    idx = np.array(
        list(range(0, 120)) + [36, 37, 38, 74, 75, 1000003, 999999999999],
        dtype=np.int64,
    )
    df = rows_for_batch(idx)
    for j, i in enumerate(idx):
        ref = row_for(int(i))
        row = df.iloc[j]
        for k, v in ref.items():
            got = row[k]
            if isinstance(v, bytes):
                assert v == bytes(got), (int(i), k)
            else:
                assert v == got, (int(i), k)


def test_ivf_probes_full_recall_on_small_corpus(spark):
    """With stride=4 on 40 vectors (10 centroids, nprobe=2) the IVF result
    is deterministic; spot-check it agrees with brute force on the
    neighbors that live in probed lists, and that ranks are 1..k dense."""
    from osmcha_spark.operators.similarity import ivf_topk

    rows = [
        (i, [float((i * 7 + d * 3) % 13) / 13.0 for d in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 5)
    out = ivf_topk(df, q, k=3, centroid_stride=4, nprobe=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # determinism: second run identical
    out2 = ivf_topk(df, q, k=3, centroid_stride=4, nprobe=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_cosine_near_dup_pairs_exact(spark):
    """Integer-exact threshold: a pair of identical vectors has cosine 1,
    orthogonal vectors 0 — only the identical pair survives 0.9."""
    from osmcha_spark.operators.similarity import cosine_near_dup_pairs

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.5, 0.5, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["a"], r["b"])
        for r in cosine_near_dup_pairs(df, 9, 10).collect()
    }
    assert pairs == {(0, 1)}
    # threshold 0.7: (0,3) and (1,3) at cos≈0.707... boundary is exact
    # integer math: 10²·dot² vs 7²·na²·nb² with dot=512·1024, na²=1024²,
    # nb²=2·512² → 100·dot² = 2.748e13·100 ... strictly ≥ comparison
    pairs7 = {
        (r["a"], r["b"])
        for r in cosine_near_dup_pairs(df, 7, 10).collect()
    }
    assert {(0, 1), (0, 3), (1, 3), (2, 3)} == pairs7


def test_aoi_join_plus_sign_overlap(spark):
    """Regression: a tall-narrow bbox crossing a wide-thin AOI holds no
    vertex of the other shape — only the edge-cross branch of the exact
    predicate finds it (SAT segment-vs-rect test in operators/aoi.py)."""
    from osmcha_spark.operators.aoi import aoi_join

    cs = spark.createDataFrame(
        [
            # plus-sign: bbox lat span [10.0, 10.5] crosses band lat [10.2, 10.21]
            (1, 20.00, 10.0, 20.01, 10.5),
            # disjoint, same cell neighborhood
            (2, 20.00, 10.3, 20.01, 10.5),
            # AOI vertex inside a wide bbox
            (3, 18.0, 10.0, 26.0, 10.5),
        ],
        "id long, min_lon double, min_lat double, max_lon double, max_lat double",
    )
    aois = spark.createDataFrame(
        [("band", [(19.0, 10.2), (25.0, 10.2), (25.0, 10.21),
                   (19.0, 10.21), (19.0, 10.2)])],
        "aoi_id string, ring array<struct<lon: double, lat: double>>",
    )
    got = {
        (r["aoi_id"], r["id"])
        for r in aoi_join(cs, aois, level=6).select("aoi_id", "id").collect()
    }
    assert got == {("band", 1), ("band", 3)}


def test_jaccard_max_df_values_exact(docs_df):
    """The stop-shingle guard gates CANDIDATES only: every pair it emits
    carries the identical exact (inter, union_size, jaccard) as the
    unguarded path (VERDICT r1 item 3)."""
    full = {
        (r["a"], r["b"]): (r["inter"], r["union_size"], r["jaccard"])
        for r in jaccard_pairs(docs_df, threshold=0.5).collect()
    }
    guarded = {
        (r["a"], r["b"]): (r["inter"], r["union_size"], r["jaccard"])
        for r in jaccard_pairs(docs_df, threshold=0.5, max_df=4).collect()
    }
    assert set(guarded) <= set(full)
    for k, v in guarded.items():
        assert v == full[k]
    # on this corpus the near-dup pairs all share rare shingles → recall 1
    assert set(guarded) == set(full)


def _twin_corpus(spark, n_pairs=20, dim=16):
    """Deterministic corpus of twin pairs: twin 2i+1 is base 2i scaled by
    1.25 — positive scaling preserves every sign-LSH bit exactly (modulo
    quantization noise, which the Hamming-1 probes absorb), and the twin
    dot dominates all cross dots."""
    import hashlib

    rows = []
    for i in range(n_pairs):
        base = [
            int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8], 16)
            / 0xFFFFFFFF
            - 0.5
            for d in range(dim)
        ]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, [x * 1.25 for x in base]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_lsh_fast_and_portable_recall_agree(spark):
    """VERDICT r1 item 4: the oracle-unchecked fast path (lsh_topk,
    xxhash64 planes) must keep the same twin-recall as the oracle-checked
    portable twin (lsh_topk_portable) so it can't silently rot."""
    from osmcha_spark.operators.similarity import lsh_topk_portable

    corpus = _twin_corpus(spark)
    queries = corpus.where(F.col("vec_id") % 2 == 0)

    def twin_recall(out):
        top1 = {
            r["query_id"]: r["neighbor_id"]
            for r in out
            if r["rank"] == 1
        }
        hits = sum(1 for q, n in top1.items() if n == q + 1)
        return hits / 20

    fast = twin_recall(lsh_topk(corpus, queries, k=3, n_bits=8).collect())
    portable = twin_recall(
        lsh_topk_portable(corpus, queries, k=3, n_bits=8, dim=16).collect()
    )
    assert fast == portable == 1.0


def test_xxhash64_python_mirror_matches_engine(spark):
    """The pure-Python xxHash64 that q24's oracle uses to mirror the
    engine's in-plan plane signs must stay bit-identical to Spark's
    F.xxhash64 on long inputs — across the full (i, j) grid the LSH
    planes actually hash, plus sign/boundary cases."""
    from osmcha_spark.operators.similarity import (
        _PLANE_SALT,
        _xxh64_long,
        xxhash_planes,
    )

    vals = [
        i * 1_000_003 + j * 7919 + _PLANE_SALT
        for i in range(64)
        for j in range(12)
    ] + [0, 1, -1, 2**62, -(2**62), (1 << 63) - 1, -(1 << 63)]
    df = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", F.xxhash64("v").alias("h")
    )
    for r in df.collect():
        assert _xxh64_long(r["v"]) == r["h"], r["v"]
    # and the derived plane matrix parity matches the engine's pmod test
    planes = xxhash_planes(2, 4)
    for j in range(2):
        for i in range(4):
            h = _xxh64_long(i * 1_000_003 + j * 7919 + _PLANE_SALT)
            want = 1 if h % 2 == 0 else -1
            assert planes[j][i] == want


def test_lsh_band_candidates_feed_exact_verify(spark):
    """The composed scale pipeline (banded candidates → exact verify)
    emits a subset of the exact all-pairs result with identical values,
    and full recall on twin pairs (identical-direction vectors share
    every band)."""
    from osmcha_spark.operators.similarity import (
        cosine_near_dup_pairs,
        lsh_band_candidates,
    )

    corpus = _twin_corpus(spark)
    exact = {
        (r["a"], r["b"]): (r["dot"], r["na2"], r["nb2"])
        for r in cosine_near_dup_pairs(corpus, 9, 10).collect()
    }
    cands = lsh_band_candidates(corpus, n_bands=8, bits_per_band=4, dim=16)
    via = {
        (r["a"], r["b"]): (r["dot"], r["na2"], r["nb2"])
        for r in cosine_near_dup_pairs(
            corpus, 9, 10, candidates=cands
        ).collect()
    }
    assert set(via) <= set(exact)
    for k, v in via.items():
        assert v == exact[k]
    twin_pairs = {(2 * i, 2 * i + 1) for i in range(20)}
    assert twin_pairs <= set(via)


def test_connected_components_shapes(spark):
    """Chain, triangle-with-tail, and singleton: labels converge to the
    min id of each component."""
    from osmcha_spark.operators.components import (
        connected_components,
        dedup_keep_canonical,
    )

    verts = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # chain 0-1-2-3; triangle 4-5-6 with tail 6-7; 8, 9 singletons
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6), (6, 7)],
        "a long, b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(verts, edges, id_col="doc_id").collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 4, 8: 8, 9: 9}

    canon = {
        r["doc_id"]: (r["is_canonical"], r["cluster_size"])
        for r in dedup_keep_canonical(verts, edges).collect()
    }
    assert canon[0] == (True, 4) and canon[3] == (False, 4)
    assert canon[4] == (True, 4) and canon[8] == (True, 1)


def test_as_of_join_matches_bruteforce(spark):
    """Union-tag + window as-of vs a per-row python brute force, including
    equal-timestamp ties broken by event_id (strictly-before semantics)."""
    import random

    from pyspark.sql import functions as F

    from osmcha_spark.operators.events import as_of_join

    rng = random.Random(42)
    rows = []
    for eid in range(300):
        rows.append(
            (
                eid,
                rng.randint(0, 4),          # user
                rng.randint(0, 50),          # coarse ts (forces ties)
                rng.choice(["error", "purchase", "view"]),
                round(rng.uniform(0, 10), 2),
            )
        )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, tsec long, event_type string, value double"
    ).withColumn("ts", F.timestamp_seconds(F.col("tsec")))

    left = df.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    right = df.where(F.col("event_type") == "purchase")
    got = {
        r["event_id"]: r["asof_event_id"]
        for r in as_of_join(
            left, right, right_payload=("event_id",)
        ).collect()
    }

    purchases = [r for r in rows if r[3] == "purchase"]
    for eid, uid, tsec, typ, _ in rows:
        if typ != "error":
            continue
        cands = [
            p for p in purchases
            if p[1] == uid and (p[2], p[0]) < (tsec, eid)
        ]
        want = max(cands, key=lambda p: (p[2], p[0]))[0] if cands else None
        assert got[eid] == want, eid


def test_sessionize_exact_gap_boundary(spark):
    """An event EXACTLY gap seconds after the previous one still merges
    (session windows close at last+gap inclusive of that instant); one
    second beyond the gap opens a new session — the boundary the q41
    oracle's ``> INTERVAL`` comparison mirrors."""
    from pyspark.sql import functions as F

    from osmcha_spark.operators.events import sessionize

    base = 1_700_000_000
    rows = [
        (1, base, 1.0),
        (1, base + 600, 1.0),        # exactly 10 min later -> same session
        (2, base, 1.0),
        (2, base + 601, 1.0),        # 10:01 later -> new session
    ]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, value double"
    ).withColumn("ts", F.timestamp_seconds(F.col("tsec"))).drop("tsec")
    got = {
        (r["user_id"], r["n_events"])
        for r in sessionize(df, gap="10 minutes").collect()
    }
    assert got == {(1, 2), (2, 1)}


def test_knn_adaptive_equals_flat(spark):
    """Expanding-ring kNN must return EXACTLY the flat cell-join's rows
    (same pairs, same ranks) on the clustered synth points — the guarantee
    that lets q44 reuse q06's brute-force oracle and the bench swap plans
    by density."""
    from osmcha_spark import synth
    from osmcha_spark.operators.knn import knn_join, knn_join_adaptive

    synth.register_synth_views(spark, "/root/testdata/sf0.001")
    pts = spark.sql(synth.points_sql(synth.SPARK))
    flat = knn_join(pts, k=3, radius=2.0).select(
        "left_id", "right_id", "rank"
    )
    ad = knn_join_adaptive(pts, k=3, radius=2.0, rounds=2, shrink=8).select(
        "left_id", "right_id", "rank"
    )
    assert flat.exceptAll(ad).count() == 0
    assert ad.exceptAll(flat).count() == 0


def test_knn_adaptive_reliable_checkpoint_mode(spark, tmp_path):
    """The durable mode (checkpoint_dir → reliable df.checkpoint to
    shared storage; VERDICT r2) must emit the identical result set, and
    must actually write round state under the given dir."""
    import os

    from osmcha_spark import synth
    from osmcha_spark.operators.knn import knn_join, knn_join_adaptive

    synth.register_synth_views(spark, "/root/testdata/sf0.001")
    pts = spark.sql(synth.points_sql(synth.SPARK))
    flat = knn_join(pts, k=3, radius=2.0).select(
        "left_id", "right_id", "rank"
    )
    ck = str(tmp_path / "knn_ckpt")
    ad = knn_join_adaptive(
        pts, k=3, radius=2.0, rounds=2, shrink=8, checkpoint_dir=ck
    ).select("left_id", "right_id", "rank")
    assert flat.exceptAll(ad).count() == 0
    assert ad.exceptAll(flat).count() == 0
    walked = [
        os.path.join(r, f) for r, _, fs in os.walk(ck) for f in fs
    ]
    assert walked, "reliable checkpoint wrote nothing under checkpoint_dir"


def test_deterministic_split_and_sample_properties(spark):
    """Content-addressed splitting: (1) partition of the id space, (2)
    invariant under repartitioning, (3) lower-rate samples nest inside
    higher-rate ones, (4) ratios near the weights."""
    from osmcha_spark.operators.sampling import (
        deterministic_sample,
        split_assign,
    )

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    s = split_assign(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    # repartitioning must not move any row
    s2 = split_assign(df.repartition(17), "doc_id",
                      {"train": 0.8, "val": 0.1, "test": 0.1})
    assert s.exceptAll(s2).count() == 0

    small = {r["doc_id"] for r in
             deterministic_sample(df, "doc_id", 0.1).collect()}
    big = {r["doc_id"] for r in
           deterministic_sample(df, "doc_id", 0.3).collect()}
    assert small <= big
    assert abs(len(big) / 5000 - 0.3) < 0.03


def test_as_of_join_null_payload_not_torn(spark):
    """A NULL field in the most recent right row must stay NULL — the
    whole-row struct carry may not backfill it from an OLDER right row
    (torn-row bug caught in review)."""
    from pyspark.sql import functions as F

    from osmcha_spark.operators.events import as_of_join

    rows = [
        (10, 1, 1, "purchase", 5.0),
        (20, 1, 2, "purchase", None),   # most recent purchase: NULL value
        (30, 1, 3, "error", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, tsec long, event_type string, value double"
    ).withColumn("ts", F.timestamp_seconds("tsec"))
    left = df.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    right = df.where(F.col("event_type") == "purchase")
    r = as_of_join(left, right, right_payload=("event_id", "value")).collect()
    assert len(r) == 1
    assert r[0]["asof_event_id"] == 20 and r[0]["asof_value"] is None


def test_upsert_version_col_enforces_lww_within_batch(spark):
    """ADVICE r2: a batch with duplicate keys would keep EVERY copy
    (unionByName after anti-join). With ``version_col`` the operator
    dedups the batch to the max-version row per key before merging."""
    from osmcha_spark.operators.incremental import upsert

    prior = spark.createDataFrame(
        [(1, "old", 0), (2, "old", 0)], "id long, v string, ver long"
    )
    updates = spark.createDataFrame(
        [(1, "mid", 5), (1, "new", 9), (3, "ins", 1)],
        "id long, v string, ver long",
    )
    got = {
        (r["id"], r["v"], r["ver"])
        for r in upsert(prior, updates, "id", version_col="ver").collect()
    }
    assert got == {(1, "new", 9), (2, "old", 0), (3, "ins", 1)}
    # without version_col the duplicate-key batch keeps both copies
    # (documented precondition, not silently fixed)
    n = upsert(prior, updates, "id").count()
    assert n == 4


def test_frac_guard_matches_int_guard_and_builds_lazily(spark, docs_df):
    """VERDICT r2: the eager driver-side ``docs.count()``s are gone —
    building the frac-guarded jaccard or the tfidf DataFrame triggers NO
    Spark job (checked via a job group), and ``max_df_frac=0.5`` emits
    exactly the ``max_df=N//2`` rows."""
    from osmcha_spark.operators.text import tfidf_topk

    sc = spark.sparkContext
    sc.setJobGroup("lazy-probe", "laziness check")
    try:
        fr = jaccard_pairs(docs_df, threshold=0.5, max_df_frac=0.5)
        tf = tfidf_topk(docs_df, k=3)
        assert list(sc.statusTracker().getJobIdsForGroup("lazy-probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    n = docs_df.count()
    via_int = {
        tuple(r)
        for r in jaccard_pairs(
            docs_df, threshold=0.5, max_df=n // 2
        ).collect()
    }
    assert {tuple(r) for r in fr.collect()} == via_int
    assert tf.count() > 0


def test_interval_join_matches_bruteforce(spark):
    """Bucketed interval join ≡ naive cross-filter on hostile inputs:
    inclusive ends, ts exactly on bucket boundaries, negative axis
    values, intervals spanning many buckets, zero-length intervals, and
    points matching nothing. Also pins duplicate-freeness (each pair
    once, with no distinct() in the operator)."""
    from pyspark.sql import functions as F

    from osmcha_spark.operators.ranges import interval_join

    W = 100
    pts_rows = [
        (1, -250), (2, -200), (3, -1), (4, 0), (5, 1),
        (6, 99), (7, 100), (8, 101), (9, 500), (10, 9999),
        (11, 200), (12, 300), (13, 301),
    ]
    iv_rows = [
        (100, -300, -200),   # negative interval, inclusive end hits pt 2
        (101, -50, 150),     # spans the 0 boundary, 3 buckets
        (102, 100, 100),     # zero-length exactly on a bucket edge
        (103, 0, 950),       # long interval: ~10 buckets wide
        (104, 200, 300),     # both ends on bucket edges
        (105, 5000, 6000),   # matches nothing
        # open-ended-sentinel shape: 10^13 buckets wide at W=1 — without
        # the points-range clamp this would hard-fail sequence()'s 2^31
        # element cap; with it, fan-out is bounded by the points' span
        (106, -(10**13), 10**13),
        (107, 10**12, 10**13),  # huge AND wholly outside the point range
    ]
    pts = spark.createDataFrame(pts_rows, "event_id long, ts_us long")
    iv = spark.createDataFrame(
        iv_rows, "interval_id long, start_us long, end_us long"
    )
    got = {
        (r["event_id"], r["interval_id"])
        for r in interval_join(pts, iv, bucket_width=W).collect()
    }
    expect = {
        (p, i)
        for (p, t) in pts_rows
        for (i, s, e) in iv_rows
        if s <= t <= e
    }
    assert got == expect
    # duplicate-freeness: a pair meets in exactly one bucket
    n = interval_join(pts, iv, bucket_width=W).count()
    assert n == len(expect)
    # bucket width never changes the answer, only the candidate count
    for w in (1, 7, 1000, 10**9):
        alt = {
            (r["event_id"], r["interval_id"])
            for r in interval_join(pts, iv, bucket_width=w).collect()
        }
        assert alt == expect, f"bucket_width={w} changed the result"


def test_stratified_take_exact_n_and_stability(spark):
    """Exactly min(n, |stratum|) per stratum; membership invariant under
    repartitioning; appending rows only displaces highest-hash
    survivors (the nested property fraction sampling lacks)."""
    from pyspark.sql import functions as F

    from osmcha_spark.operators.sampling import stratified_take

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        F.when(F.col("id") % 7 == 0, "tiny").otherwise("big").alias("source"),
    )
    out = stratified_take(df, ["lang", "source"], n=10, id_col="doc_id")
    sizes = {
        (r["lang"], r["source"]): r["n"]
        for r in out.groupBy("lang", "source").agg(
            F.count("*").alias("n")
        ).collect()
    }
    strata = {
        (r["lang"], r["source"]): r["n"]
        for r in df.groupBy("lang", "source").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert sizes == {k: min(10, v) for k, v in strata.items()}

    ids = {r["doc_id"] for r in out.collect()}
    re_ids = {
        r["doc_id"]
        for r in stratified_take(
            df.repartition(13), ["lang", "source"], n=10, id_col="doc_id"
        ).collect()
    }
    assert ids == re_ids, "membership moved under repartitioning"

    # appending rows never ADMITS a previously-rejected row
    bigger = df.unionByName(
        spark.range(200, 260).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 3).cast("string").alias("lang"),
            F.lit("big").alias("source"),
        )
    )
    grown = {
        r["doc_id"]
        for r in stratified_take(
            bigger, ["lang", "source"], n=10, id_col="doc_id"
        ).collect()
    }
    assert grown - ids <= set(range(200, 260)), (
        "an old row entered the sample because OTHER rows were appended"
    )


def test_kmeans_step_invariants(spark):
    """Every vector lands in exactly one cluster (idx=1 member counts sum
    to N), seeds assign to themselves (their own d2 is 0), and the flat
    codebook has exactly k·dim rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from osmcha_spark.operators.similarity import kmeans_step

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(120, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_step(emb, centroid_stride=30)
    rows = out.collect()
    k = 120 // 30
    assert len(rows) == k * 8
    per_cid = {
        r["centroid_id"]: r["n_members"] for r in rows if r["idx"] == 1
    }
    assert sum(per_cid.values()) == 120
    # a seed is distance-0 from itself, so every seed cluster is nonempty
    assert all(per_cid.get(c, 0) >= 1 for c in (0, 30, 60, 90))
    # brute-force the assignment in numpy (same quantization)
    q = np.round(vecs.astype(np.float64) * 1024).astype(np.int64)
    cents = q[[0, 30, 60, 90]]
    d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)  # argmin ties → lowest index = lowest cid
    expect_counts = {
        c: int((assign == i).sum()) for i, c in enumerate((0, 30, 60, 90))
    }
    assert per_cid == expect_counts
    expect_sum = {
        (c, j + 1): int(q[assign == i, j].sum())
        for i, c in enumerate((0, 30, 60, 90))
        for j in range(8)
    }
    got_sum = {(r["centroid_id"], r["idx"]): r["sum_q"] for r in rows}
    assert got_sum == expect_sum


def test_pagerank_iterates_conserving_mass(spark):
    """operators/graph.py: the iterated driver. On a 3-regular ring
    graph (every node out-degree 3), no mass leaks: each step's total is
    N·10^6 minus only integer-truncation dust (< 1 ppm per edge). On a
    star graph the hub must out-rank the leaves. Laziness of the single
    step and plan hygiene are asserted too."""
    from osmcha_spark.operators.graph import PPM, pagerank, pagerank_step

    n = 60
    nodes = spark.range(n).select(F.col("id").alias("node_id"))
    edges = nodes.select(
        F.col("node_id").alias("src"),
        F.explode(
            F.array(*[(F.col("node_id") + d) % n for d in (1, 2, 3)])
        ).alias("dst"),
    )
    ranks = pagerank(nodes, edges, n_iter=5)
    rows = ranks.collect()
    total = sum(r.rank_ppm for r in rows)
    # per-step truncation loss <= (edges + nodes) ppm; 5 steps
    assert n * PPM - 5 * (3 * n + n) <= total <= n * PPM
    # ring symmetry: every node identical
    assert len({r.rank_ppm for r in rows}) == 1

    # star: node 0 is everyone's target
    leaves = spark.range(1, n).select(F.col("id").alias("node_id"))
    star_nodes = nodes
    star_edges = leaves.select(
        F.col("node_id").alias("src"), F.lit(0).alias("dst")
    )
    sr = {r.node_id: r.rank_ppm
          for r in pagerank(star_nodes, star_edges, n_iter=3).collect()}
    assert sr[0] > max(v for k, v in sr.items() if k != 0)
    # dangling hub: leaves settle at the base rank
    assert all(v == PPM - 850_000 for k, v in sr.items() if k != 0)

    # single step is lazy and Python-free
    sc = spark.sparkContext
    sc.setJobGroup("pr-lazy", "laziness check")
    try:
        step = pagerank_step(
            nodes, edges,
            nodes.select("node_id",
                         F.lit(PPM).cast("long").alias("rank_ppm")),
        )
        assert list(sc.statusTracker().getJobIdsForGroup("pr-lazy")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pq_topk_separated_clusters(spark):
    """PQ/ADC sanity: with 3 well-separated clusters and one codeword per
    cluster (ids 0/20/40 at stride 20), every query's top-3 neighbors come
    from its own cluster, and ADC is exact-k (3 rows per query)."""
    from osmcha_spark.operators.similarity import pq_topk

    df = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.when(
                        (F.col("id") / 20).cast("int") * 2 == i, F.lit(1.0)
                    )
                    .when(
                        (F.col("id") / 20).cast("int") * 2 + 1 == i,
                        F.lit(1.0),
                    )
                    .otherwise(F.lit(0.0))
                    + F.when(
                        F.lit(i) == 7, (F.col("id") % 5) * 0.01
                    ).otherwise(F.lit(0.0))
                ).cast("float")
                for i in range(8)
            ]
        ).alias("embedding"),
    )
    q = df.where(F.col("vec_id") < 6)
    out = pq_topk(df, q, k=3, m=4, dim=8, centroid_stride=20).collect()
    assert len(out) == 6 * 3
    for r in out:
        assert r.neighbor_id // 20 == r.query_id // 20

    # laziness + plan hygiene: pure Column algebra, no Python crossing
    sc = spark.sparkContext
    sc.setJobGroup("pq-lazy", "laziness check")
    try:
        lazy = pq_topk(df, q, k=3, m=4, dim=8, centroid_stride=20)
        assert list(sc.statusTracker().getJobIdsForGroup("pq-lazy")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_jaccard_matches_brute_force(spark):
    """Prefix filtering is LOSSLESS: on random token-set docs the pruned
    join must emit exactly the brute-force pairs at every threshold,
    including docs whose prefix is a single token and stop-token-heavy
    docs (the case q09's max_df guard would lose)."""
    import itertools
    import random

    from osmcha_spark.operators.dedup import prefix_jaccard_pairs

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(80):
        base = rng.sample(vocab, rng.randint(3, 12))
        docs.append((i, " ".join(base + rng.choices(["the", "a"], k=2))))
    sets = {i: set(t.lower().split()) for i, t in docs}
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for thr in (0.5, 0.8, 0.95):
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter / union >= thr:
                want.add((a, b, inter, union))
        got = {
            (r.a, r.b, r.inter, r.union_size)
            for r in prefix_jaccard_pairs(df, thr).collect()
        }
        assert got == want, f"thr={thr}"


def test_prefix_jaccard_plan_hygiene(spark):
    from osmcha_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c d")], "doc_id long, text string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("pj-lazy", "laziness check")
    try:
        out = prefix_jaccard_pairs(df, 0.7)
        assert list(sc.statusTracker().getJobIdsForGroup("pj-lazy")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_gap_fill_forward_fills_and_flags(spark):
    """Grid spans first..last bucket per key; unobserved buckets carry
    the last observation; within-bucket winner is the latest (ts, id)
    event; a bucket-edge event belongs to the LATER bucket (div
    semantics, int64 — no double rounding across the edge)."""
    from datetime import datetime

    from osmcha_spark.operators.events import gap_fill

    B = 60  # 1-minute buckets
    rows = [
        # key 1: events in minutes 0 and 3; minute 3 has two events —
        # later ts wins; minutes 1-2 forward-fill minute 0's value
        (1, 1, datetime(2024, 1, 1, 0, 0, 30), 1.00),
        (2, 1, datetime(2024, 1, 1, 0, 3, 10), 2.00),
        (3, 1, datetime(2024, 1, 1, 0, 3, 50), 3.00),
        # key 2: single event exactly ON a bucket edge
        (4, 2, datetime(2024, 1, 1, 0, 5, 0), 9.99),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        (r.user_id, r.bucket_ts): (r.cents, r.observed)
        for r in gap_fill(df, bucket_s=B).collect()
    }
    base = 1704067200  # 2024-01-01T00:00:00Z epoch
    assert got == {
        (1, base + 0 * B): (100, 1),
        (1, base + 1 * B): (100, 0),
        (1, base + 2 * B): (100, 0),
        (1, base + 3 * B): (300, 1),
        (2, base + 5 * B): (999, 1),
    }


def test_triangle_counts_vs_brute_force(spark):
    """Per-node counts on a random graph == itertools brute force; a
    star hub (high degree, zero triangles) exercises the orientation's
    hub-is-never-apex property; plan is cartesian- and Python-free."""
    import itertools
    import random

    from osmcha_spark.operators.graph import triangle_counts

    rng = random.Random(5)
    n = 40
    edges = {(a, b) for a in range(n) for b in range(a + 1, n)
             if rng.random() < 0.12}
    edges |= {(0, b) for b in range(1, 25)}  # hub at node 0
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b), adj[b].add(a)
    want = {}
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    df = spark.createDataFrame(sorted(edges), "a long, b long")
    out = triangle_counts(df)
    got = {r.node: r.tri_cnt for r in out.collect()}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_concurrency_curve_vs_brute_force(spark):
    """Hierarchical prefix sum == flat sweep line, with intervals that
    span bucket edges (bucket_s tiny to force the multi-bucket path)
    and half-open [s, e) semantics: back-to-back intervals never
    overlap."""
    import random

    from osmcha_spark.operators.events import concurrency_curve

    rng = random.Random(11)
    iv = [(rng.randrange(0, 3_000_000), rng.randrange(1, 2_000_000))
          for _ in range(300)]
    rows = [(s, s + d) for s, d in iv]
    rows.append((100, 200))  # back-to-back pair: [100,200) + [200,300)
    rows.append((200, 300))
    df = spark.createDataFrame(rows, "start_us long, end_us long")
    got = {(r.t, r.conc)
           for r in concurrency_curve(df, bucket_s=1).collect()}
    # flat brute force
    from collections import Counter
    net = Counter()
    for s, e in rows:
        net[s] += 1
        net[e] -= 1
    run, want = 0, set()
    for t in sorted(net):
        run += net[t]
        want.add((t, run))
    assert got == want
    # half-open: at t=200 the first interval is closed, conc there
    # counts only the opener (plus whatever random intervals cover 200)
    assert all(c >= 0 for _, c in got)


def test_kmv_set_ops_exact_and_estimator_regimes(spark):
    """Small disjoint/overlapping sets (< k union) give EXACT counts;
    large sets give estimates within the sketch's standard-error
    envelope (k=128 → se ≈ 1/√k ≈ 9%; assert 4 se). Plan stays
    Python-free."""
    from osmcha_spark.operators.sketches import kmv_set_ops

    # exact regime: |A|=30, |B|=40, |A∩B|=10
    rows = [("a", v) for v in range(30)] + [("b", v) for v in range(20, 60)]
    df = spark.createDataFrame(rows, "key string, val long")
    out = kmv_set_ops(df, "key", "val", k=128).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.union_kept, r.rho, r.est_union, r.est_inter) == (60, 10, 60, 10)
    assert r.jaccard_ppm == (10 * 1_000_000) // 60

    # estimator regime: A = 0..3999, B = 2000..5999 → union 6000, inter 2000
    rows = [("a", v) for v in range(4000)] + [
        ("b", v) for v in range(2000, 6000)
    ]
    df = spark.createDataFrame(rows, "key string, val long")
    r = kmv_set_ops(df, "key", "val", k=128).collect()[0]
    assert abs(r.est_union - 6000) < 6000 * 0.36
    assert abs(r.est_inter - 2000) < 2000 * 0.75  # ρ/k has wider error
    plan = kmv_set_ops(df, "key", "val", k=128)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_funnel_state_machine_edges(spark):
    """Steps only count strictly after the previous step in
    (ts, event_id) order: a click BEFORE any view is ignored; a click
    at the SAME ts as the view counts only with a higher event_id; a
    user with views only completes 1 step; order within the funnel is
    per-user."""
    from datetime import datetime

    from osmcha_spark.operators.events import funnel

    T = datetime(2024, 1, 1, 0, 0, 0)
    T2 = datetime(2024, 1, 1, 0, 1, 0)
    T3 = datetime(2024, 1, 1, 0, 2, 0)
    rows = [
        # u1: click before view → click ignored; later click counts
        (1, 1, T, "click", 0.0), (2, 1, T2, "view", 0.0),
        (3, 1, T3, "click", 0.0),
        # u2: view and click at the SAME ts — click has HIGHER id → counts
        (4, 2, T, "view", 0.0), (5, 2, T, "click", 0.0),
        (6, 2, T2, "purchase", 0.0),
        # u3: view and click same ts, click has LOWER id → does NOT count
        (8, 3, T, "view", 0.0), (7, 3, T, "click", 0.0),
        # u4: views only
        (9, 4, T, "view", 0.0), (10, 4, T2, "view", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    out = {r.user_id: r for r in
           funnel(df, steps=("view", "click", "purchase")).collect()}
    assert out[1].steps_completed == 2
    assert out[1].t2_us is not None and out[1].t1_us < out[1].t2_us
    assert out[2].steps_completed == 3
    assert out[2].t1_us == out[2].t2_us  # same-ts pair, id order decides
    assert out[3].steps_completed == 1 and out[3].t2_us is None
    assert out[4].steps_completed == 1
    # earliest view wins for u4
    assert out[4].t1_us == out[1].t1_us - 60_000_000


def test_banded_edit_pairs_substitution_complete(spark):
    """Pigeonhole completeness: on a substitution-only corpus the
    banded join finds EVERY pair within levenshtein ≤ 2; also rejects
    segments < max_dist + 1 at build time."""
    import itertools
    import random

    from osmcha_spark.operators.text import banded_edit_pairs

    rng = random.Random(3)
    bases = ["abcdefghijkl", "mnopqrstuvwx", "aaaabbbbcccc"]
    strs = []
    for i in range(60):
        s = list(bases[i % 3])
        for _ in range(rng.randint(0, 2)):
            s[rng.randrange(12)] = rng.choice("xyz")
        strs.append((i, "".join(s)))

    def lev(a, b):  # equal length; full DP for honesty
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b, lev(sa, sb))
        for (a, sa), (b, sb) in itertools.combinations(strs, 2)
        if lev(sa, sb) <= 2 and sum(x != y for x, y in zip(sa, sb)) <= 2
    }
    df = spark.createDataFrame(strs, "doc_id long, s string")
    got = {
        (r.a, r.b, r.dist)
        for r in banded_edit_pairs(df, "s", length=12, segments=3,
                                   max_dist=2).collect()
    }
    # engine may ALSO find lev<=2 pairs whose hamming > 2 if they share
    # a segment — those are bonus recall, never wrong values
    assert want <= got
    for a, b, d in got:
        sa = dict(strs)[a]; sb = dict(strs)[b]
        assert lev(sa, sb) == d <= 2

    import pytest as _pytest
    with _pytest.raises(ValueError):
        banded_edit_pairs(df, "s", length=12, segments=2, max_dist=2)


def test_skyline_2d_vs_brute_force(spark):
    """Skyline == NOT-EXISTS dominance on random points with duplicate
    points, x-ties, y-ties, and NEGATIVE x (floor-div bucketing);
    result is bucket-width-invariant."""
    import random

    from osmcha_spark.operators.skyline import skyline_2d

    rng = random.Random(9)
    pts = [(i, rng.randint(-50, 50), rng.randint(0, 40))
           for i in range(200)]
    pts += [(200, 10, 10), (201, 10, 10)]  # exact duplicates
    want = {
        i for i, x, y in pts
        if not any(
            qx >= x and qy >= y and (qx > x or qy > y)
            for _, qx, qy in pts
        )
    }
    df = spark.createDataFrame(pts, "id long, x long, y long")
    for bucket in (1, 16, 1 << 40):
        got = {r.id for r in skyline_2d(df, "x", "y", bucket=bucket)
               .collect()}
        assert got == want, f"bucket={bucket}"
    plan = skyline_2d(df, "x", "y")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_order_statistics_vs_brute_force(spark):
    """Two-phase selection == global sort, over duplicates, negatives,
    and several bucket widths; building the DataFrame triggers no job
    (ranks resolve in-plan, not via a driver count)."""
    import random

    from osmcha_spark.operators.quantiles import order_statistics

    rng = random.Random(21)
    vals = [rng.randint(-500, 500) for _ in range(997)] + [7] * 50
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    n = len(vals)
    s = sorted(vals)
    ps = [1, 250_000, 500_000, 900_000, 1_000_000]
    want = {p: s[-(-p * n // 1_000_000) - 1] for p in ps}
    for bucket in (1, 37, 1000, 1 << 30):
        got = {
            r.p_ppm: r.value
            for r in order_statistics(df, "v", ps, bucket=bucket).collect()
        }
        assert got == want, f"bucket={bucket}"

    sc = spark.sparkContext
    sc.setJobGroup("os-lazy", "laziness check")
    try:
        lazy = order_statistics(df, "v", ps)
        assert list(sc.statusTracker().getJobIdsForGroup("os-lazy")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_retention_cohorts_decay_and_dedup(spark):
    """A user active twice in one bucket counts ONCE; cohort is the
    first-activity bucket; age 0 row equals the cohort's size."""
    from datetime import datetime

    from osmcha_spark.operators.events import retention_cohorts

    B = 3600  # 1-hour buckets
    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 10)),   # u1 cohort hour 0
        (2, 1, datetime(2024, 1, 1, 0, 50)),   # same bucket — dedup
        (3, 1, datetime(2024, 1, 1, 2, 5)),    # age 2
        (4, 2, datetime(2024, 1, 1, 0, 59)),   # u2 cohort hour 0
        (5, 3, datetime(2024, 1, 1, 1, 0)),    # u3 cohort hour 1
        (6, 3, datetime(2024, 1, 1, 2, 0)),    # age 1
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {(r.cohort, r.age): r.n_users
           for r in retention_cohorts(df, bucket_s=B).collect()}
    h0 = 1704067200 // B
    assert got == {
        (h0, 0): 2, (h0, 2): 1,
        (h0 + 1, 0): 1, (h0 + 1, 1): 1,
    }


def test_bigram_novelty_edges(spark):
    """Boilerplate doc (all bigrams in reference) → 0 ppm; fully novel
    doc → 10^6 ppm; sub-2-token doc → (0, 0, 0); DISTINCT bigrams only
    (a repeated phrase counts once)."""
    from osmcha_spark.operators.text import bigram_novelty

    ref = spark.createDataFrame(
        [(100, "the quick brown fox")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown"),          # both bigrams known → 0
            (2, "purple monkey dishwasher"), # none known → 1e6
            (3, "quick brown quick brown"),  # distinct: 3 bigrams
            (4, "hello"),                    # no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.n_unseen, r.novelty_ppm)
           for r in bigram_novelty(docs, ref).collect()}
    assert got[1] == (2, 0, 0)
    assert got[2] == (2, 2, 1_000_000)
    # "quick brown", "brown quick" — distinct of 3 positions = 2; only
    # "brown quick" is unseen
    assert got[3] == (2, 1, 500_000)
    assert got[4] == (0, 0, 0)


def test_ann_recall_curve_pins(spark):
    """Deterministic recall@10 floors for the ANN ladder on the real
    sf0.001 embeddings, each tier vs ITS OWN metric's exact baseline
    (tools/ann_recall.py). The synthetic embeddings are near-random —
    ANN's worst case — so the absolute numbers are modest BY DESIGN;
    the pinned property is the monotone probe-vs-recall tradeoff
    (nprobe 1 < 2 < 4) plus per-tier floors: everything is integer-
    deterministic, so a drop means a semantics regression, not noise."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "ann_recall",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "ann_recall.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    res = mod.run(spark, "/root/testdata/sf0.001")
    assert res["ivf_nprobe1"] < res["ivf_nprobe2"] < res["ivf_nprobe4"]
    assert res["ivf_nprobe4"] >= 0.30
    assert res["pq_m8"] >= 0.10
    assert res["lsh_12bit"] >= 0.01
    # exact refinement can only restore true neighbors the ADC shortlist
    # already contains — so it dominates raw PQ, and a longer shortlist
    # dominates a shorter one (pq_refine_topk docstring, q106)
    assert res["pq_m8_refine25"] >= res["pq_m8"]
    assert res["pq_m8_refine100"] >= res["pq_m8_refine25"]

    # structured corpus (similarity.py:clustered_embeddings): the regime
    # real embedding data lives in — the ladder's value is finally
    # visible (r3 VERDICT item 6). Deterministic, so floors are tight:
    # measured at n=1000: 0.988/0.956/0.65/0.65/0.272 (the committed
    # BENCH/ann_recall_clustered.json is the n=2000 run). Also pins the
    # honest negative result: data-sampled codebooks give residual
    # coding nothing to reclaim, so residual must NOT silently overtake
    # flat ivfpq here — if it does, the codebook discipline changed and
    # the docstrings are stale.
    cl = mod.run_clustered(spark, n=1000)
    assert cl["ivf_nprobe4"] >= 0.90
    assert cl["lsh_12bit"] >= 0.80
    assert cl["pq_m8"] >= 0.25
    assert cl["ivfpq_nprobe8"] >= 0.25
    assert cl["ivfpq_residual_nprobe8"] >= 0.15
    assert cl["ivfpq_residual_nprobe8"] <= cl["ivfpq_nprobe8"]
    assert cl["ivf_nprobe4"] > 2 * res["ivf_nprobe4"]
    assert cl["pq_m8_refine25"] >= cl["pq_m8"]
    assert cl["pq_m8_refine100"] >= cl["pq_m8_refine25"]


def test_apply_changes_roundtrips_snapshot_diff(spark):
    """The CDC algebra identity: apply_changes(old, feed(snapshot_diff(
    old, new))) ≡ new, row-for-row — the q75 producer and the q117
    consumer compose to an exact snapshot transport. Exercises all
    three ops (added/changed → upsert with new values, removed →
    delete) plus null-value changes (null-safe diff)."""
    from osmcha_spark.operators.incremental import (
        apply_changes,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "id long, v string, n int",
    )
    new = spark.createDataFrame(
        # 1 unchanged; 2 changed; 3 null→value changed; 4 removed; 5 added
        [(1, "a", 10), (2, "B", 21), (3, "c", 30), (5, "e", 50)],
        "id long, v string, n int",
    )
    d = snapshot_diff(old, new, ["id"])
    feed = (
        d.withColumn(
            "op",
            F.when(F.col("change") == "removed", F.lit("delete"))
            .otherwise(F.lit("upsert")),
        )
        .join(new, "id", "left")
        .select("id", "v", "n", "op")
    )
    got = {(r.id, r.v, r.n)
           for r in apply_changes(old, feed, key="id").collect()}
    want = {(r.id, r.v, r.n) for r in new.collect()}
    assert got == want


def test_focal_sum_hand_grid_and_edges(spark):
    """focal_sum (q115) on a hand-built grid at level 2 (4×4 cells over
    the world): counts and 3×3 neighborhood sums are exact, the corner
    cell keeps a partial neighborhood (no wrap), and only OCCUPIED cells
    appear in the surface. Cell centers chosen mid-cell so quantization
    is unambiguous."""
    from osmcha_spark.operators.tiles import focal_sum

    # level 2: x = floor((lon+180)/90), y = floor((lat+90)/45)
    def pt(x, y):
        return (x * 90.0 - 180.0 + 45.0, y * 45.0 - 90.0 + 22.5)

    # 3 points in (0,0) corner, 1 in (1,0), 2 in (1,1), 1 far at (3,3)
    pts = [pt(0, 0)] * 3 + [pt(1, 0)] + [pt(1, 1)] * 2 + [pt(3, 3)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = {(r.x, r.y): (r.n, r.focal_n)
           for r in focal_sum(df, level=2).collect()}
    assert got == {
        (0, 0): (3, 6),   # corner: sees (0,0)+(1,0)+(1,1); no wrap to x=3
        (1, 0): (1, 6),
        (1, 1): (2, 6),
        (3, 3): (1, 1),   # isolated
    }
    # occupied-cells-only surface: empty neighbors of occupied cells
    # (e.g. (2,1), focal 3) are not rows
    assert (2, 1) not in got


def test_bfs_hops_chain_multiseed_early_exit(spark):
    """bfs_hops (q108) on a directed chain 0→1→…→9 plus a detached pair
    20→21: hops are exact path lengths; a node reachable from two seeds
    takes the MIN (seed 5 reaches 6 before seed 0 does); traversal
    early-exits when the frontier empties (chain end + detached pair
    exhausted well before max_hops=50); unreached nodes are absent, and
    directedness holds (nothing upstream of a seed is labeled)."""
    from osmcha_spark.operators.graph import bfs_hops

    chain = [(i, i + 1) for i in range(9)] + [(20, 21)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (5,)], "node_id long")
    got = {
        r.node_id: r.hops
        for r in bfs_hops(edges, seeds, max_hops=50).collect()
    }
    assert got == {
        0: 0, 5: 0,
        1: 1, 6: 1,
        2: 2, 7: 2,
        3: 3, 8: 3,
        4: 4, 9: 4,
    }
    # bounded: max_hops=2 truncates the reachable set at depth 2
    got2 = {
        r.node_id: r.hops
        for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert got2 == {0: 0, 5: 0, 1: 1, 6: 1, 2: 2, 7: 2}


def test_constraint_audit_every_branch_fires(spark):
    """constraint_audit (q107) on a deliberately dirty table: duplicate
    keys (incl. the all-null key group counting as ONE group — SELECT
    DISTINCT semantics), nulls, out-of-range, off-list values, and FK
    orphans each produce their exact violation count; a null child is an
    orphan of the not_null check, never of the fk check."""
    from osmcha_spark.operators.profile import constraint_audit

    rows = [
        # (k, cust, price, status)
        (1, 10, 50.0, "O"),
        (1, 10, 50.0, "O"),       # dup key 1
        (2, None, -5.0, "X"),     # null child + range + accepted
        (3, 99, 150.0, "F"),      # orphan (99 not in dim)
        (None, 10, 20.0, "O"),    # null key group...
        (None, 10, 300.0, "O"),   # ...two rows, one group → 1 dup
        (4, 11, None, "P"),       # null price: NOT a range violation
    ]
    df = spark.createDataFrame(
        rows, "k long, cust long, price double, status string"
    )
    dim = spark.createDataFrame([(10,), (11,)], "ck long")
    out = {
        r.check_name: (r.violations, r.total_rows)
        for r in constraint_audit(
            df,
            key=["k"],
            not_null=["cust"],
            ranges={"price": (0.0, 200.0)},
            accepted={"status": ["O", "F", "P"]},
            fks=[("cust", "cust", dim, "ck")],
        ).collect()
    }
    assert out == {
        "unique:k": (2, 7),        # dup of key 1 + dup of the null group
        "not_null:cust": (1, 7),
        "range:price": (2, 7),     # -5.0 and 300.0; the NULL price exempt
        "accepted:status": (1, 7),
        "fk:cust": (1, 7),         # cust=99; the NULL child exempt
    }


def test_pq_refine_full_shortlist_equals_exact(spark):
    """Refined PQ sanity identity: with shortlist ≥ corpus size the ADC
    stage keeps EVERY candidate, so the exact re-rank must reproduce
    brute_topk_l2 row-for-row — the q106 composition degrades gracefully
    to the exact baseline, and any divergence is a re-rank bug, not
    quantization loss. Also pins the shortlist-vs-k guard."""
    import pytest as _pytest

    from osmcha_spark.operators.similarity import (
        brute_topk_l2,
        pq_refine_topk,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).where(F.col("vec_id") < 120)
    q = emb.where(F.col("vec_id") < 6)
    refined = {
        (r.query_id, r.rank): (r.neighbor_id, r.d2)
        for r in pq_refine_topk(emb, q, k=5, shortlist=200, m=8, dim=64,
                                centroid_stride=50).collect()
    }
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.d2)
        for r in brute_topk_l2(emb, q, k=5).collect()
    }
    assert refined == exact

    with _pytest.raises(ValueError):
        pq_refine_topk(emb, q, k=10, shortlist=5)


def test_ivfpq_is_pq_restricted_to_probed_lists(spark):
    """IVF-PQ ≡ flat PQ restricted to the probed lists: with nprobe =
    n_centroids (probe everything) the result EQUALS pq_topk; with
    nprobe=1 every returned neighbor belongs to one of the query's
    probed lists. Laziness + plan hygiene."""
    from osmcha_spark.operators.similarity import ivf_assign, ivfpq_topk, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8)
    full = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivfpq_topk(emb, q, k=5, coarse_stride=25, nprobe=20,
                            m=8, dim=64, pq_stride=50).collect()
    }
    flat = {
        (r.query_id, r.rank): r.neighbor_id
        for r in pq_topk(emb, q, k=5, m=8, dim=64,
                         centroid_stride=50).collect()
    }
    assert full == flat

    narrow = ivfpq_topk(emb, q, k=5, coarse_stride=25, nprobe=1,
                        m=8, dim=64, pq_stride=50)
    _, assigned = ivf_assign(emb, 25)
    lists = {r.id: r.centroid_id for r in assigned.collect()}
    # nprobe=1: each query's probe list is its own centroid
    for r in narrow.collect():
        assert lists[r.neighbor_id] == lists[r.query_id]

    sc = spark.sparkContext
    sc.setJobGroup("ivfpq-lazy", "laziness check")
    try:
        lazy = ivfpq_topk(emb, q, k=5)
        assert list(sc.statusTracker().getJobIdsForGroup("ivfpq-lazy")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_residual_single_centroid_equals_flat_pq(spark):
    """Residual IVF-PQ sanity identity: with ONE coarse centroid (stride
    > max id, so only vec_id 0 qualifies) every residual is v − v0 and
    the shared shift cancels out of every subspace L2 — codes, ADC
    tables, and therefore the full top-k EQUAL flat pq_topk row-for-row.
    The general-case values are pinned by q101's mirrored oracle; this
    pins the residual algebra itself. Also: residual variant stays lazy
    and Python-free."""
    from osmcha_spark.operators.similarity import ivfpq_topk, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8)
    res = {
        (r.query_id, r.rank, r.neighbor_id, r.adist)
        for r in ivfpq_topk(emb, q, k=5, coarse_stride=10**9, nprobe=1,
                            m=8, dim=64, pq_stride=50,
                            residual=True).collect()
    }
    flat = {
        (r.query_id, r.rank, r.neighbor_id, r.adist)
        for r in pq_topk(emb, q, k=5, m=8, dim=64,
                         centroid_stride=50).collect()
    }
    assert res == flat and len(res) == 40

    sc = spark.sparkContext
    sc.setJobGroup("ivfpq-res-lazy", "laziness check")
    try:
        lazy = ivfpq_topk(emb, q, k=5, residual=True)
        assert list(
            sc.statusTracker().getJobIdsForGroup("ivfpq-res-lazy")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_time_weighted_avg_exact_and_burst_insensitive(spark):
    """TWAP of a hand-built step function equals the exact integral; a
    burst of repeated observations of the SAME value does not move the
    TWAP (the property plain AVG lacks); single-observation key emits
    its observation with span 0."""
    from datetime import datetime, timedelta

    from osmcha_spark.operators.events import time_weighted_avg

    T0 = datetime(2024, 1, 1)

    def t(sec):
        return T0 + timedelta(seconds=sec)

    rows = [
        # key 1: 1.00 for 10 s, then 3.00 for 30 s  → twap = 2.50
        (1, 1, t(0), 1.00), (2, 1, t(10), 3.00), (3, 1, t(40), 3.00),
        # key 2: same steps + a burst of redundant 1.00 observations
        (4, 2, t(0), 1.00), (5, 2, t(1), 1.00), (6, 2, t(2), 1.00),
        (7, 2, t(10), 3.00), (8, 2, t(40), 3.00),
        # key 3: single observation
        (9, 3, t(5), 9.99),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {r.user_id: r for r in time_weighted_avg(df).collect()}
    # key 1: 100c*10s + 300c*30s over 40 s = 250c
    assert got[1].span_us == 40_000_000
    assert got[1].integral == 100 * 10_000_000 + 300 * 30_000_000
    assert got[1].twap_cents == 250
    assert got[2].twap_cents == 250  # burst-insensitive
    assert got[3].span_us == 0 and got[3].twap_cents == 999


def test_radius_join_complete_vs_brute(spark):
    """Cell-bucketed radius join emits exactly the brute-force in-radius
    pairs, each once, including pairs straddling cell boundaries."""
    from osmcha_spark.operators.knn import radius_join

    pts = _synth_points(150)
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    r = 0.4
    want = set()
    for i, xi, yi in pts:
        for j, xj, yj in pts:
            if i < j and ((xi - xj) ** 2 + (yi - yj) ** 2) ** 0.5 <= r:
                want.add((i, j))
    rows = radius_join(df, radius=r).collect()
    got = [(x.left_id, x.right_id) for x in rows]
    assert len(got) == len(set(got))  # no duplicate pairs
    assert set(got) == want
    plan = radius_join(df, radius=r)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # explicit-salt fallback (nsalt) is byte-identical to the unsalted
    # plan, which the brute set above (and q98's definitional oracle)
    # pins — the deterministic skew escape hatch measured in
    # tools/radius_skew_experiment.py / BENCH/BASELINE.md
    salted = radius_join(df, radius=r, nsalt=8).collect()
    got_salted = [(x.left_id, x.right_id) for x in salted]
    assert len(got_salted) == len(set(got_salted))
    assert set(got_salted) == want


def test_grouped_order_statistics_vs_brute(spark):
    """Per-group two-phase selection == per-group sorts, with groups of
    very different sizes, duplicate values, and negatives."""
    import random

    from osmcha_spark.operators.quantiles import grouped_order_statistics

    rng = random.Random(4)
    rows = []
    for g, n in (("a", 997), ("b", 31), ("c", 4)):
        rows += [(g, rng.randint(-200, 200)) for _ in range(n)]
    df = spark.createDataFrame(rows, "g string, v long")
    ps = [250_000, 500_000, 990_000]
    want = {}
    for g in ("a", "b", "c"):
        s = sorted(v for gg, v in rows if gg == g)
        for p in ps:
            want[(g, p)] = s[-(-p * len(s) // 1_000_000) - 1]
    for bucket in (1, 50, 1 << 30):
        got = {
            (r.g, r.p_ppm): r.value
            for r in grouped_order_statistics(df, "g", "v", ps,
                                              bucket=bucket).collect()
        }
        assert got == want, f"bucket={bucket}"


def test_table_profile_metrics(spark):
    """Profile panel on a hand-built frame with nulls, dupes, and a
    timestamp column — every metric checked by hand."""
    from datetime import datetime

    from osmcha_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [
            (1, "xx", datetime(2024, 1, 1)),
            (2, None, datetime(2024, 1, 2)),
            (2, "yyyy", None),
            (None, "xx", datetime(2024, 1, 1)),
        ],
        "a long, s string, t timestamp",
    )
    got = {
        (r.col_name, r.metric): r.value
        for r in table_profile(
            df, {"a": "long", "s": "string", "t": "ts"}
        ).collect()
    }
    assert got[("a", "n_rows")] == 4
    assert got[("a", "n_null")] == 1
    assert got[("a", "n_distinct")] == 2
    assert got[("a", "min")] == 1 and got[("a", "max")] == 2
    assert got[("s", "n_null")] == 1
    assert got[("s", "n_distinct")] == 2
    assert got[("s", "min")] == 2 and got[("s", "max")] == 4  # lengths
    assert got[("t", "n_null")] == 1
    assert got[("t", "n_distinct")] == 2
    assert got[("t", "min")] == 1704067200_000000


def test_pyramid_merge_retraction_inverse(spark):
    """pyramid_merge with a NEGATED delta retracts exactly: merging
    pyramid(all) with -pyramid(deleted) equals pyramid(all minus
    deleted) row-for-row — including cells whose count returns to zero
    VANISHING, as a from-scratch rebuild would never emit them. (The
    additive direction is q104's oracle gate.)"""
    from osmcha_spark.operators.tiles import pyramid_merge, tile_pyramid

    pts = spark.range(3000).select(
        F.col("id"),
        ((F.pmod(F.xxhash64("id"), 3600) / 10.0) - 180.0).alias("lon"),
        ((F.pmod(F.xxhash64(F.col("id") + 9), 1800) / 10.0) - 90.0)
        .alias("lat"),
    )
    deleted = pts.where(F.col("id") % 5 == 0)
    kept = pts.where(F.col("id") % 5 != 0)

    full = tile_pyramid(pts, "lon", "lat", level=8, min_level=5)
    neg_delta = tile_pyramid(
        deleted, "lon", "lat", level=8, min_level=5
    ).withColumn("n", -F.col("n"))
    got = {
        (r.level, r.cell, r.n)
        for r in pyramid_merge(full, neg_delta).collect()
    }
    want = {
        (r.level, r.cell, r.n)
        for r in tile_pyramid(kept, "lon", "lat", level=8,
                              min_level=5).collect()
    }
    assert got == want and len(want) > 100
    # some finest-level cells really did hit zero and vanish
    full_cells = {
        (r.level, r.cell) for r in full.where(F.col("level") == 8).collect()
    }
    kept_cells = {(lvl, c) for (lvl, c, _) in want if lvl == 8}
    assert full_cells - kept_cells


def test_floor_div_hostile_inputs_match_duckdb(spark):
    """ADVICE r3/r4 closure pins: the engine's _floordiv idiom and the
    oracles' mirrored SQL idiom ``(x - ((x % d) + d) % d) // d`` agree
    on the hostile inputs that distinguish floor from truncation —
    negative integrals (time_weighted_avg) and pre-1970 timestamps
    (gap_fill, retention_cohorts). NB the measured ground truth that
    reshaped the fix: DuckDB 1.0's integer `//` TRUNCATES toward zero
    exactly like Spark's `div` (SELECT -7 // 2 = -3), so a bare `//`
    oracle would diverge from the floor-semantics engine — the mirror
    idiom, not bare `//`, is what the q81/q92/q95 oracles use."""

    def floor_sql(x, d):
        return f"({x} - (({x} % {d}) + {d}) % {d}) // {d}"
    from datetime import datetime, timedelta, timezone

    import duckdb

    from osmcha_spark.operators.events import (
        gap_fill, retention_cohorts, time_weighted_avg)

    EPOCH = datetime(1970, 1, 1)

    # -- time_weighted_avg: negative cents, non-exact quotient ---------
    # integral = (-3c)(1us) + (-4c)(1us) = -7 over span 2us:
    # floor(-7/2) = -4 where truncation would give -3.
    t0 = datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 1, t0, -0.03),
         (2, 1, t0 + timedelta(microseconds=1), -0.04),
         (3, 1, t0 + timedelta(microseconds=2), 0.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    r = time_weighted_avg(ev).collect()[0]
    assert (r.integral, r.span_us) == (-7, 2)
    assert duckdb.sql("SELECT -7 // 2").fetchone()[0] == -3  # truncates!
    oracle_twap = duckdb.sql(
        f"SELECT {floor_sql(-7, 2)}").fetchone()[0]
    assert r.twap_cents == oracle_twap == -4

    # -- gap_fill: pre-1970 event buckets floor to negative ------------
    # ts_us = -5_000_000 with 10 s buckets → bucket -1 (bucket_ts -10),
    # where truncation would collapse it into bucket 0.
    ev = spark.createDataFrame(
        [(1, 1, EPOCH - timedelta(seconds=5), 2.00),
         (2, 1, EPOCH + timedelta(seconds=15), 3.00)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {r.bucket_ts: (r.cents, r.observed)
           for r in gap_fill(ev, bucket_s=10).collect()}
    first_bucket = duckdb.sql(
        f"SELECT {floor_sql(-5000000, 10000000)}").fetchone()[0]
    assert first_bucket == -1
    assert got == {-10: (200, 1), 0: (200, 0), 10: (300, 1)}

    # -- retention_cohorts: pre-1970 cohort stays distinct from 0 ------
    ev = spark.createDataFrame(
        [(1, 7, EPOCH - timedelta(seconds=3), 0.0),   # bucket -1
         (2, 7, EPOCH + timedelta(seconds=25), 0.0)],  # bucket 2 → age 3
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {(r.cohort, r.age): r.n_users
           for r in retention_cohorts(ev, bucket_s=10).collect()}
    cohort = duckdb.sql(
        f"SELECT {floor_sql(-3000000, 10000000)}").fetchone()[0]
    assert cohort == -1
    assert got == {(-1, 0): 1, (-1, 3): 1}


def test_shared_spans_planted_fixture(spark):
    """Substring-level exact dedup (Lee et al. 2022 class): planted
    spans come back with exact length and 1-based start positions,
    sub-k overlaps are never emitted, and the max_df stop-shingle guard
    is recall-only (surviving rarer shingles still chain)."""
    from osmcha_spark.operators.dedup import shared_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),            # 10 tokens
            (2, "x x a b c d e f g h z z"),        # shares a..h at pos 3
            (3, "a b c d e f g Q i j"),            # longest shared run 7
            (4, "A B C D E F G H I J"),            # case-folded copy of 1
            (5, "a b c"),                          # < k tokens: excluded
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): (r.span_tokens, r.start_a, r.start_b)
           for r in shared_spans(docs, k=8).collect()}
    assert got == {
        (1, 2): (8, 1, 3),    # the full 8-token planted overlap
        (1, 4): (10, 1, 1),   # identical docs: whole-doc span
        (2, 4): (8, 3, 1),
    }
    # doc 3's 7-token overlap with 1/2/4 is sub-k: correctly absent;
    # doc 5 never reaches shingling.

    # max_df=2 drops the pos-1 shingle "a b c d e f g h" (df=3): the
    # (1,2)/(2,4) pairs lose their only shingle; (1,4) survives through
    # its rarer pos-2/pos-3 shingles, chained to a 9-token span at pos 2.
    capped = {(r.doc_a, r.doc_b): (r.span_tokens, r.start_a, r.start_b)
              for r in shared_spans(docs, k=8, max_df=2).collect()}
    assert capped == {(1, 4): (9, 2, 2)}


def test_remove_shared_spans_planted_fixture(spark):
    """The removal half of substring-level dedup (q126): every token
    covered by a >= k-token span shared with an EARLIER doc is deleted,
    keeping the corpus-wide first occurrence; sub-k overlaps and
    self-repeats never trigger removal; short docs never shingle."""
    from osmcha_spark.operators.dedup import remove_shared_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),             # earliest: kept whole
            (2, "x x a b c d e f g h z z"),         # a..h at pos 3-10 dies
            (3, "a b c d e f g Q i j"),             # longest shared run 7
            (4, "A B C D E F G H I J"),             # case-folded copy of 1
            (5, "a b c"),                           # < k: never shingles
            (6, "p q r s t u v w p q r s t u v w"),  # self-repeat only
            (7, "  a b c d e f g h i j  "),         # ws-normalized copy
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in remove_shared_spans(docs, k=8).collect()}
    assert got == {
        1: (10, 0, "a b c d e f g h i j"),
        2: (12, 8, "x x z z"),
        3: (10, 0, "a b c d e f g q i j"),   # sub-k: untouched (lowered)
        4: (10, 10, ""),                      # exact dup: fully removed
        5: (3, 0, "a b c"),
        6: (16, 0, "p q r s t u v w p q r s t u v w"),  # min_doc == self
        7: (10, 10, ""),                      # dup after normalization
    }


def test_trained_codebook_flips_residual_result(spark):
    """The q101 claim, measured (r5): with a Lloyd-TRAINED coarse
    codebook (train_centroids) residual IVF-PQ beats original-vector
    coding on the clustered corpus — the classical Jégou prediction the
    data-sampled codebooks could not show (and whose negative result
    test_ann_recall_curve_pins still pins). Floors from
    BENCH/ann_recall_clustered.json (n=2000: trained residual 0.53-0.54
    vs trained flat 0.36-0.38 vs untrained residual 0.27); everything
    integer-deterministic, so a drop is a regression, not noise."""
    import importlib.util
    import os

    from pyspark.sql import functions as F

    from osmcha_spark.operators.similarity import (
        brute_topk_l2, clustered_embeddings, ivfpq_topk, train_centroids)

    spec = importlib.util.spec_from_file_location(
        "ann_recall",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "ann_recall.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    emb = clustered_embeddings(spark, n=2000).persist()
    emb.count()
    q = emb.where(F.col("vec_id") < 50)
    truth = brute_topk_l2(emb, q, k=10)
    cents = train_centroids(emb, centroid_stride=25, iters=8)

    def rec(residual, cb):
        return mod.recall_at_k(
            ivfpq_topk(emb, q, k=10, nprobe=8, m=8, dim=64, pq_stride=50,
                       residual=residual, cents=cb),
            truth)

    r_res_trained = rec(True, cents)
    r_flat_trained = rec(False, cents)
    r_res_sampled = rec(True, None)
    emb.unpersist()
    assert r_res_trained >= 0.45
    assert r_res_trained > r_flat_trained + 0.10   # training flips it
    assert r_res_trained > r_res_sampled + 0.15    # vs the r4 regime


def test_semdedup_planted_fixture(spark):
    """SemDeDup (q127): within-cluster keep-first semantic dedup.
    Exact and near dups behind the integer cosine 99/100 gate die;
    sub-threshold and negative-dot neighbors survive; a near-dup pair
    STRADDLING two clusters is kept on both sides — the operator's
    documented recall boundary (candidates exist only within a
    cluster, the whole point of the scale design)."""
    from osmcha_spark.operators.curation import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # centroid c0, kept
        (1, [1.0, 0.0, 0.0, 0.0]),    # exact dup of 0 -> dropped
        (2, [0.98, 0.02, 0.0, 0.0]),  # cos ~0.9998 vs 0 -> dropped
        (3, [0.6, 0.0, 0.8, 0.0]),    # c0, cos 0.6 -> kept
        (4, [0.0, 0.6, 0.8, 0.0]),    # first c10 member, kept
        (5, [0.75, 0.70, 0.0, 0.0]),  # c0 side of the straddle pair
        (6, [0.70, 0.75, 0.0, 0.0]),  # c10 side: cos(5,6) ~0.9976 but
                                      # different clusters -> BOTH kept
        (10, [0.0, 1.0, 0.0, 0.0]),   # centroid c10, kept
        (11, [0.0, 1.0, 0.0, 0.0]),   # exact dup of 10 -> dropped
        (12, [-1.0, 0.0, 0.0, 0.0]),  # negative/zero dots only -> kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.centroid_id, r.kept)
           for r in semdedup(emb, 99, 100, centroid_stride=10).collect()}
    assert got == {
        0: (0, 1), 1: (0, 0), 2: (0, 0), 3: (0, 1), 5: (0, 1),
        4: (10, 1), 6: (10, 1), 10: (10, 1), 11: (10, 0), 12: (10, 1),
    }

    # explicit-codebook seam: passing the same stride rows as cents
    # must reproduce the stride path bit-for-bit
    from pyspark.sql import functions as F

    from osmcha_spark.operators.similarity import _qvec

    cents = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        _qvec(F.col("embedding")).alias("cv"),
    )
    got2 = {r.vec_id: (r.centroid_id, r.kept)
            for r in semdedup(emb, 99, 100, cents=cents).collect()}
    assert got2 == got


def test_hashed_ngram_score_bag_and_edges(spark):
    """hashed_ngram_score (q128): bag semantics (a repeated feature
    scores once per OCCURRENCE), empty docs emit (0, 0, 0), and
    buckets absent from the weight table score 0."""
    from osmcha_spark.operators.dedup import md5_long_col
    from osmcha_spark.operators.text import hashed_ngram_score

    docs = spark.createDataFrame(
        [(1, "spark spark"), (2, ""), (3, "   "), (4, "one two")],
        "doc_id long, text string",
    )
    # all-ones weights: score == n_features
    w1 = spark.range(64).select(
        F.col("id").alias("bucket"), F.lit(1).alias("weight")
    )
    got = {r.doc_id: (r.n_features, r.score, r.kept)
           for r in hashed_ngram_score(docs, w1, 64).collect()}
    # doc 1: 2 unigrams ("spark" twice — bag) + 1 bigram = 3 features
    assert got == {1: (3, 3, 1), 2: (0, 0, 0), 3: (0, 0, 0),
                   4: (3, 3, 1)}

    # only "spark"'s bucket is weighted (negative): the repeat counts
    # twice, the bigram's missing bucket scores 0
    spark_bucket = spark.range(1).select(
        (md5_long_col(F.lit("spark")) % 64).alias("bucket"),
        F.lit(-5).alias("weight"),
    )
    got2 = {r.doc_id: (r.n_features, r.score, r.kept)
            for r in hashed_ngram_score(docs, spark_bucket, 64).collect()}
    assert got2[1] == (3, -10, 0)
    assert got2[4][1] in (0, -5, -10)  # collisions possible at 64 buckets
    assert got2[2] == (0, 0, 0)


def test_mix_sample_rates_and_determinism(spark):
    """mix_sample (q129): rate 10000 keeps everything, rate 0 and
    ABSENT domains keep nothing, and assignment is a pure function of
    (id, salt) — repartitioned reruns agree row-for-row while a new
    salt draws a genuinely different subset."""
    from osmcha_spark.operators.sampling import mix_sample

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("dom"), (F.col("id") % 4).cast("string"))
        .alias("source"),
    )
    rates = spark.createDataFrame(
        [("dom0", 10000), ("dom1", 0), ("dom2", 5000)],
        "source string, rate_bp long",
    )  # dom3 deliberately absent
    out = mix_sample(docs, rates).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r.source, []).append(r.kept)
    assert all(k == 1 for k in by_dom["dom0"])
    assert all(k == 0 for k in by_dom["dom1"])
    assert all(k == 0 for k in by_dom["dom3"])      # absent == rate 0
    assert 0 < sum(by_dom["dom2"]) < len(by_dom["dom2"])

    again = {(r.doc_id, r.kept)
             for r in mix_sample(docs.repartition(13), rates).collect()}
    assert again == {(r.doc_id, r.kept) for r in out}

    other = {(r.doc_id, r.kept)
             for r in mix_sample(docs, rates, salt="mix-epoch2").collect()}
    assert other != {(r.doc_id, r.kept) for r in out}


def test_curation_funnel_each_gate_fires(spark):
    """curation_funnel (q130): one planted doc per gate — duplicate
    (higher id of an exact pair), contaminated (shares >= min_shared
    k-shingles with an eval doc), empty (quality score 0), rate-0
    domain — and one doc that survives everything. Flags are
    independent: a doc failing one gate still reports the others."""
    from osmcha_spark.operators.curation import curation_funnel

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "dom0"),
            (2, "alpha beta gamma delta epsilon", "dom0"),  # dup of 1
            (3, "zeta eta theta iota kappa", "dom0"),       # contaminated
            (4, "", "dom0"),                                # quality 0
            (5, "unique words here entirely", "domX"),      # absent domain
        ],
        "doc_id long, text string, source string",
    )
    weights = spark.range(64).select(
        F.col("id").alias("bucket"), F.lit(1).alias("weight")
    )
    eval_set = spark.createDataFrame(
        [(100, "zeta eta theta iota kappa")], "doc_id long, text string"
    )
    rates = spark.createDataFrame([("dom0", 10000)],
                                  "source string, rate_bp long")
    got = {r.doc_id: (r.q_kept, r.dup_kept, r.decon_kept, r.mix_kept,
                      r.kept)
           for r in curation_funnel(docs, weights, 64, eval_set, rates,
                                    k=3, min_shared=2).collect()}
    assert got == {
        1: (1, 1, 1, 1, 1),
        2: (1, 0, 1, 1, 0),   # exact dup: only the min id survives
        3: (1, 1, 0, 1, 0),   # decontamination gate
        4: (0, 1, 1, 1, 0),   # empty text scores 0
        5: (1, 1, 1, 0, 0),   # domain absent from rates
    }


def _py_bpe_reference(word_freq, n_merges):
    """Independent pure-Python BPE (Sennrich et al. 2016): count
    adjacent pairs over the weighted vocabulary, fuse the argmax
    (ties: lexicographic on (left, right)), repeat."""
    vocab = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in vocab.items():
            f = word_freq[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merges.append(best)
        a, b = best
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_train_apply_matches_python_reference(spark):
    """train_bpe/apply_bpe (q134 family) against an independent
    pure-Python implementation on a planted corpus, including the
    left-greedy overlap rule and the word-boundary rule."""
    from osmcha_spark.operators.text import (
        apply_bpe, bpe_pair_counts, train_bpe, word_freq)

    rows = [
        (1, "low low low lower lower newest newest newest"),
        (2, "newest widest widest low aaa"),
        (3, "newest new"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wf = {r.w: r.f for r in word_freq(docs).collect()}
    exp_wf = {}
    for _, t in rows:
        for w in t.split():
            exp_wf[w] = exp_wf.get(w, 0) + 1
    assert wf == exp_wf
    exp_merges, exp_vocab = _py_bpe_reference(exp_wf, 6)
    got_merges = train_bpe(docs, 6)
    assert got_merges == exp_merges
    toks = {r.doc_id: r.tokens
            for r in apply_bpe(docs, got_merges).collect()}
    for did, t in rows:
        exp = [s for w in t.split() for s in exp_vocab[w]]
        assert toks[did] == exp, (did, toks[did], exp)
    # left-greedy overlap: "aaa" under merge (a, a) -> [aa, a]
    one = spark.createDataFrame([(9, "aaa")], "doc_id long, text string")
    got = apply_bpe(one, [("a", "a")]).collect()[0]
    assert got.tokens == ["aa", "a"] and got.n_tokens == 2
    # word boundary: pairs never span words ("ab ba" has no (b,a) at
    # the seam beyond the in-word ones)
    wb = spark.createDataFrame([(1, "ab ab ab")], "doc_id long, text string")
    pc = {(r.left_sym, r.right_sym): r.cnt
          for r in bpe_pair_counts(word_freq(wb)).collect()}
    assert pc == {("a", "b"): 3}


def test_sample_radius_pairs_matches_enumerated_slots(spark):
    """sample_radius_pairs (q138): on a corpus small enough to
    enumerate, decoding slot -> (cell, left, right) through the
    prefix-interval joins must EQUAL indexing the brute-force candidate
    list by the same md5 positions — uniformity and determinism reduce
    to this identity. Also: the radius rejection only ever removes
    rows, and a repartitioned input yields the identical sample."""
    import hashlib

    from osmcha_spark.geo.cells import cell_np
    from osmcha_spark.operators.sampling import sample_radius_pairs

    import numpy as np

    rows = [(i, float((i * 37) % 200) / 10.0 - 10.0,
             float((i * 53) % 140) / 10.0 - 7.0) for i in range(120)]
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")
    # brute-force candidate list in (cell, lrank, rrank) order
    ids = np.array([r[0] for r in rows])
    lons = np.array([r[1] for r in rows])
    lats = np.array([r[2] for r in rows])
    cells = cell_np(lons, lats, 4)
    by_cell = {}
    for i in np.argsort(ids):
        by_cell.setdefault(int(cells[i]), []).append(i)
    cand = []
    for c in sorted(by_cell):
        members = by_cell[c]  # already id-ordered
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                cand.append((members[a], members[b]))
    total = len(cand)
    assert total > 50
    exp = {}
    for j in range(40):
        h = int(hashlib.md5(f"srj:{j}".encode()).hexdigest()[:15], 16)
        pos = h % total
        a, b = cand[pos]
        d = float(np.hypot(lons[a] - lons[b], lats[a] - lats[b]))
        exp[pos] = (int(ids[a]), int(ids[b]), round(d, 9))
    got = {r.pos: (r.left_id, r.right_id, round(r.dist, 9))
           for r in sample_radius_pairs(pts, 4, 40).collect()}
    assert got == exp
    # rejection subset + determinism under repartition
    kept = {r.pos for r in
            sample_radius_pairs(pts, 4, 40, radius=3.0).collect()}
    assert kept == {p for p, (_, _, d) in exp.items() if d <= 3.0}
    got2 = {r.pos: (r.left_id, r.right_id)
            for r in sample_radius_pairs(
                pts.repartition(13), 4, 40).collect()}
    assert got2 == {p: (l, r) for p, (l, r, _) in exp.items()}


def test_ngram_lm_score_quantized_counts_and_edges(spark):
    """ngram_lm_score (q140): hand-checked quantized conditional
    log-probs against known training counts, OOV bigrams counted and
    scored flog2(1)−flog2(C(prefix)+1), sub-2-token docs emit
    (0, 0, 0), and flog2 is the exact integer floor-log2."""
    from osmcha_spark.operators.text import flog2_col, ngram_lm_score

    flogs = (
        spark.range(1, 17)
        .select(flog2_col(F.col("id")).alias("f"))
        .collect()
    )
    import math
    assert [r.f for r in flogs] == [
        int(math.floor(math.log2(v))) for v in range(1, 17)
    ]

    docs = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "c a b"), (3, "a"), (4, "")],
        "doc_id long, text string",
    )
    train = docs.where(F.col("doc_id") == 1)
    # train counts: C(a b)=2 C(b a)=2 C(a c)=1; prefixes C(a)=3 C(b)=2
    # qlp(a b) = flog2(3)-flog2(4) = -1; qlp(b a) = flog2(3)-flog2(3) = 0
    # qlp(a c) = flog2(2)-flog2(4) = -1
    got = {r.doc_id: (r.n_bigrams, r.n_oov, r.loglik_q)
           for r in ngram_lm_score(docs, train).collect()}
    assert got[1] == (5, 0, -3)
    # doc 2: (c a) is OOV with unseen prefix → flog2(1)-flog2(1)=0;
    # (a b) scores -1
    assert got[2] == (2, 1, -1)
    assert got[3] == (0, 0, 0) and got[4] == (0, 0, 0)


def test_dsir_weights_quantized_ratio_and_gate(spark):
    """dsir_weights (q141): hand-checked quantized importance
    log-weights on a collision-free fixture (distinct single tokens at
    2^20 buckets; md5 is fixed, so no-collision is deterministic), the
    corpus-size normalizer, the empty-doc path, and the min_logw
    gate."""
    from osmcha_spark.operators.sampling import dsir_weights

    docs = spark.createDataFrame(
        [(1, "t t"), (2, "r"), (3, "")], "doc_id long, text string"
    )
    target = docs.where(F.col("doc_id") == 1)
    raw = docs.where(F.col("doc_id") == 2)
    # Ct: t->2, "t t"->1, Tt=3; Cr: r->1, Tr=1; norm = flog2(4)-flog2(2)=1
    # d1: s = 1+1+1 = 3, logw = 3 - 3*1 = 0 -> kept at min_logw=0
    # d2: s = flog2(1)-flog2(2) = -1, logw = -1 - 1 = -2 -> dropped
    got = {r.doc_id: (r.n_features, r.logw_q, r.kept)
           for r in dsir_weights(docs, target, raw, 1 << 20).collect()}
    assert got == {1: (3, 0, 1), 2: (1, -2, 0), 3: (0, 0, 1)}

    strict = {r.doc_id: r.kept
              for r in dsir_weights(docs, target, raw, 1 << 20,
                                    min_logw=1).collect()}
    assert strict == {1: 0, 2: 0, 3: 0}


def test_stay_points_runs_not_visits(spark):
    """stay_points (q144): a >= min_pings run of same-cell pings is a
    stay, a shorter run is not, and RE-VISITING a cell later opens a
    SECOND stay (gaps-and-islands, not per-cell rollup); enter/exit
    are the run's first/last ping; a second user's run is independent."""
    from datetime import datetime

    from osmcha_spark.operators.tiles import stay_points

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = (
        [(1, t(i), i, 0.0, 0.0) for i in range(3)]          # stay A
        + [(1, t(3 + i), 3 + i, 0.2, 0.0) for i in range(2)]  # short hop
        + [(1, t(5 + i), 5 + i, 0.0, 0.0) for i in range(3)]  # stay A again
        + [(2, t(i), 10 + i, 50.0, 10.0) for i in range(4)]   # user 2
    )
    pings = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, "
              "lon double, lat double")
    got = sorted(
        (r.user_id, r.n_pings, r.enter_ts.minute, r.exit_ts.minute)
        for r in stay_points(pings, level=12, min_pings=3,
                             order_col="event_id").collect()
    )
    assert got == [(1, 3, 0, 2), (1, 3, 5, 7), (2, 4, 0, 3)]


def test_colocation_pairs_distinct_buckets_and_threshold(spark):
    """colocation_pairs (q145): set semantics (many pings in one shared
    bucket count ONCE), pairs below min_hits are dropped, u < u2
    canonical order, and different phases of the same cell are
    different buckets."""
    from datetime import datetime

    from osmcha_spark.operators.tiles import colocation_pairs

    def t(d, h=0):
        return datetime(2024, 1, d, h)

    rows = [
        # day 1, venue A: users 1+2 (user 1 pings twice -> counts once)
        (1, t(1, 0), 0.0, 0.0), (1, t(1, 1), 0.0, 0.0),
        (2, t(1, 2), 0.0, 0.0),
        # day 2, venue A: users 1+2 again -> second co-bucket
        (1, t(2), 0.0, 0.0), (2, t(2), 0.0, 0.0),
        # day 3, venue B: users 1+3 once only -> below min_hits
        (1, t(3), 5.0, 5.0), (3, t(3), 5.0, 5.0),
    ]
    pings = spark.createDataFrame(
        rows, "user_id long, ts timestamp, lon double, lat double")
    got = [(r.user_a, r.user_b, r.n_cobuckets)
           for r in colocation_pairs(pings, min_hits=2).collect()]
    assert got == [(1, 2, 2)]
    # min_hits=1 also surfaces the single-day pair, still u < u2
    got1 = sorted((r.user_a, r.user_b, r.n_cobuckets)
                  for r in colocation_pairs(pings, min_hits=1).collect())
    assert got1 == [(1, 2, 2), (1, 3, 1)]


def test_od_flows_transitions_and_rank(spark):
    """od_flows (q149): only consecutive DIFFERENT-cell ping pairs are
    trips (self-loops are dwell, first ping has no predecessor), flows
    count across movers, dest_rank orders destinations within an origin
    by (n_trips DESC, to_cell) deterministically, and min_flow prunes."""
    from datetime import datetime

    from osmcha_spark.operators.tiles import od_flows

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    A, B, C = (0.0, 0.0), (0.2, 0.0), (0.4, 0.0)
    rows = (
        # user 1: A A B A  -> A->B, B->A (the A A self-loop is dwell)
        [(1, t(0), 0, *A), (1, t(1), 1, *A),
         (1, t(2), 2, *B), (1, t(3), 3, *A)]
        # user 2: A B C    -> A->B (again), B->C
        + [(2, t(0), 10, *A), (2, t(1), 11, *B), (2, t(2), 12, *C)]
    )
    pings = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, "
              "lon double, lat double")
    out = od_flows(pings, level=12, order_col="event_id").collect()
    flows = {(r.from_cell, r.to_cell): (r.n_trips, r.dest_rank)
             for r in out}
    # resolve the three cells from the data itself
    import pyspark.sql.functions as F

    from osmcha_spark.geo.cells import cell_col
    ca, cb, cc = [
        spark.createDataFrame([p], "lon double, lat double")
        .select(cell_col(F.col("lon"), F.col("lat"), 12)).first()[0]
        for p in (A, B, C)
    ]
    # B's two destinations tie at 1 trip -> rank breaks by to_cell asc
    ra, rc = (1, 2) if ca < cc else (2, 1)
    assert flows == {
        (ca, cb): (2, 1),   # two movers made A->B; A's top destination
        (cb, ca): (1, ra),
        (cb, cc): (1, rc),
    }
    # min_flow=2 keeps only the doubled edge
    kept = [(r.from_cell, r.to_cell, r.n_trips)
            for r in od_flows(pings, level=12, min_flow=2,
                              order_col="event_id").collect()]
    assert kept == [(ca, cb, 2)]


def test_cell_representatives_argmax_ties_and_counts(spark):
    """cell_representatives (q151): highest score wins per cell, score
    ties break to the LARGER id (max over (score, id) structs),
    singleton cells pass through, and n_images counts every row in
    the cell, not just candidates."""
    from osmcha_spark.operators.tiles import cell_representatives

    rows = [
        # cell A (0.0, 0.0): clear winner b
        ("a", 0.0, 0.0, 100), ("b", 0.01, 0.01, 300),
        ("c", 0.02, 0.02, 200),
        # cell B (50, 10): tie at 500 -> 'z' beats 'y'
        ("y", 50.0, 10.0, 500), ("z", 50.01, 10.01, 500),
        # cell C: singleton
        ("s", -120.0, -40.0, 7),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, lon double, lat double, "
              "sharpness_milli long")
    got = sorted(
        (r.image_id, r.sharpness_milli, r.n_images)
        for r in cell_representatives(df, level=3).collect()
    )
    assert got == [("b", 300, 3), ("s", 7, 1), ("z", 500, 2)]


def test_hot_cold_cells_signs_and_edge_window(spark):
    """hot_cold_cells (q152): a dense blob's cell flags hot, a distant
    singleton in the same bbox flags cold (its 3x3 mean undershoots
    the global mean), scores are the exact integer Gi* numerator
    A*focal_n - w*T, and a grid-corner cell's window clamps to 4."""
    from osmcha_spark.operators.tiles import hot_cold_cells

    def lonlat(x, y, level=10):
        lim = 1 << level
        return (-180 + (x + 0.5) * 360.0 / lim,
                -90 + (y + 0.5) * 180.0 / lim)

    blob = [lonlat(300, 500)] * 50
    lone = [lonlat(320, 500)]          # same row, 20 cells away
    rows = [(lon, lat) for lon, lat in blob + lone]
    pts = spark.createDataFrame(rows, "lon double, lat double")
    got = {(r.x, r.y): r for r in hot_cold_cells(pts, level=10).collect()}
    # bbox: x 300..320, y 500 -> A = 21; T = 51
    b, s = got[(300, 500)], got[(320, 500)]
    assert (b.n, b.focal_n, b.w) == (50, 50, 9)
    assert b.score_num == 21 * 50 - 9 * 51 and b.flag == 1
    assert (s.n, s.focal_n, s.w) == (1, 1, 9)
    assert s.score_num == 21 * 1 - 9 * 51 and s.flag == -1

    # grid corner: the in-grid window is 2x2, not 9
    corner = spark.createDataFrame(
        [lonlat(0, 0)], "lon double, lat double")
    c = hot_cold_cells(corner, level=10).collect()[0]
    assert (c.x, c.y, c.w) == (0, 0, 4)
    # A=1, T=1: score = 1*1 - 4*1 = -3 — a lone point "dilutes" its
    # own window below the global mean (w > A), the documented edge
    assert c.score_num == -3 and c.flag == -1


def test_trend_cells_mann_kendall_signs(spark):
    """trend_cells (q153): rising counts score +B(B-1)/2, falling the
    negative, constant zero; a cell seen ONLY in the last bucket scores
    +(B-1) because missing buckets count zero (the space-time-cube
    contract); out-of-range buckets are ignored entirely."""
    from osmcha_spark.operators.tiles import trend_cells

    rows = []
    for b in range(8):
        rows += [(0.0001, 0.0001, b)] * (b + 1)      # rising  -> +28
        rows += [(-20.0, -20.0, b)] * 2              # flat    ->   0
        rows += [(40.0, 40.0, b)] * (8 - b)          # falling -> -28
    rows += [(10.0, 10.0, 7)] * 5                    # tail-only -> +7
    rows += [(0.0001, 0.0001, 99)]                   # ignored
    df = spark.createDataFrame(rows, "lon double, lat double, bucket int")
    got = {(r.x, r.y): r for r in trend_cells(df, level=10).collect()}
    assert len(got) == 4
    vals = sorted((r.n_total, r.trend_s, r.flag) for r in got.values())
    assert (5, 7, 1) in vals            # tail-only cell
    assert (16, 0, 0) in vals           # flat cell
    assert (36, 28, 1) in vals          # rising cell (bucket 99 dropped)
    assert (36, -28, -1) in vals        # falling cell
    # degenerate single-bucket ladder: no pairs, S = 0 by definition
    # (sequence(0, -1) DESCENDS in Spark — pinned so the guard stays)
    one = spark.createDataFrame(
        [(1.0, 1.0, 0)] * 3, "lon double, lat double, bucket int")
    r1 = trend_cells(one, level=5, n_buckets=1).collect()
    assert len(r1) == 1 and r1[0].trend_s == 0 and r1[0].n_total == 3


def test_sssp_bounded_improvement_and_round_bound(spark):
    """sssp_bounded (q155): a cheaper two-edge path found in a LATER
    round replaces an earlier direct-edge distance; nodes needing more
    edges than max_rounds stay unreachable; hop-count semantics is the
    w=1 special case (matches bfs_hops)."""
    from osmcha_spark.operators.graph import bfs_hops, sssp_bounded

    edges = spark.createDataFrame(
        [(0, 1, 10),   # direct but expensive
         (0, 2, 1), (2, 1, 2),   # two edges, cheaper -> dist(1) = 3
         (1, 3, 1),    # 3 edges total via the cheap path -> dist(3) = 4
         (3, 4, 1)],   # cheap route to 4 needs FOUR edges (cost 5) —
        "src long, dst long, w long")  # beyond max_rounds, so dist(4)
    seeds = spark.createDataFrame([(0,)], "node_id long")  # = 12 via
    got = {r.node_id: r.dist                    # the expensive 3-edge
           for r in sssp_bounded(edges, seeds,  # path 0->1->3->4
                                 max_rounds=3).collect()}
    assert got == {0: 0, 2: 1, 1: 3, 3: 4, 4: 12}
    # one more round lets the cheap path through: dist(4) drops to 5
    got4 = {r.node_id: r.dist
            for r in sssp_bounded(edges, seeds, max_rounds=4).collect()}
    assert got4[4] == 5

    # w = 1 everywhere degenerates to min-hops
    unit = edges.select("src", "dst", F.lit(1).alias("w"))
    hops = {r.node_id: r.hops
            for r in bfs_hops(unit, seeds, max_hops=3).collect()}
    unit_dist = {r.node_id: r.dist
                 for r in sssp_bounded(unit, seeds, max_rounds=3).collect()}
    assert unit_dist == {k: v for k, v in hops.items()}


def test_ripley_pair_counts_planted_ladder(spark):
    """ripley_pair_counts (q157): hand-counted pairs on a planted
    pattern — a tight pair (d=10 units), a mid-range third point whose
    pairs only clear the largest radius (and STRADDLE a coarse-bucket
    boundary, pinning the 3x3 lossless candidate emission), a far
    outlier contributing nothing, and a radius below every distance
    emitting an explicit zero row."""
    from osmcha_spark.operators.tiles import ripley_pair_counts

    def pt(pid, u, v):
        # land exactly on integer grid coords (u, v) at scale 2048
        return (pid, -180.0 + (u + 0.5) / 2048.0, -90.0 + (v + 0.5) / 2048.0)

    # A-B d=10; A-C d=300, B-C d=290 (C sits in the NEXT 512-bucket);
    # D is isolated
    df = spark.createDataFrame(
        [pt(1, 1000, 1000), pt(2, 1010, 1000), pt(3, 1300, 1000),
         pt(4, 5000, 5000)],
        "id long, lon double, lat double")
    got = {r.radius: r.n_pairs
           for r in ripley_pair_counts(df, radii=(8, 32, 128, 512)).collect()}
    assert got == {8: 0, 32: 1, 128: 1, 512: 3}

    # empty input still emits every requested radius, all zero
    empty = spark.createDataFrame([], "id long, lon double, lat double")
    got0 = {r.radius: r.n_pairs
            for r in ripley_pair_counts(empty, radii=(32, 512)).collect()}
    assert got0 == {32: 0, 512: 0}


def test_nn_distance_counts_censoring(spark):
    """nn_distance_counts (q159): NN(A)=NN(B)=10, NN(C)=290 (bucket-
    straddling), D censored beyond r_max — hand-counted G-function
    ladder; a single point has no NN and yields all zeros."""
    from osmcha_spark.operators.tiles import nn_distance_counts

    def pt(pid, u, v):
        return (pid, -180.0 + (u + 0.5) / 2048.0, -90.0 + (v + 0.5) / 2048.0)

    df = spark.createDataFrame(
        [pt(1, 1000, 1000), pt(2, 1010, 1000), pt(3, 1300, 1000),
         pt(4, 5000, 5000)],
        "id long, lon double, lat double")
    got = {r.radius: r.n_points
           for r in nn_distance_counts(df, radii=(8, 32, 128, 512)).collect()}
    assert got == {8: 0, 32: 2, 128: 2, 512: 3}

    solo = spark.createDataFrame([pt(1, 100, 100)],
                                 "id long, lon double, lat double")
    got1 = {r.radius: r.n_points
            for r in nn_distance_counts(solo, radii=(32,)).collect()}
    assert got1 == {32: 0}


def test_perceptron_step_two_rounds_hand_computed(spark):
    """perceptron_step (q160): from ZERO weights every doc is
    misclassified (score 0), so round 1's gradient is the label-
    weighted bag count; round 2 fixes the positive doc and keeps
    pushing the negative one — hand-computed integer weights, bag
    semantics ('a a' contributes count 2 to bucket(a)), and the
    empty doc contributes nothing to any gradient."""
    from osmcha_spark.operators.text import hashed_features, perceptron_step

    n_b = 1 << 20
    docs = spark.createDataFrame(
        [(1, "a a", 1), (2, "a", -1), (3, "", 1)],
        "doc_id long, text string, label int")
    # resolve the feature buckets via the engine's own hashing: doc 2
    # has exactly the unigram 'a'; doc 1 adds the bigram 'a a'
    b_a = hashed_features(
        spark.createDataFrame([(9, "a")], "doc_id long, text string"),
        n_b).collect()[0].bucket
    f1 = {r.bucket for r in hashed_features(
        spark.createDataFrame([(9, "a a")], "doc_id long, text string"),
        n_b).collect()}
    (b_aa,) = f1 - {b_a}

    w0 = spark.createDataFrame([], "bucket long, weight long")
    w1 = perceptron_step(docs, w0, n_b)
    got1 = {r.bucket: (r.weight, r.grad) for r in w1.collect()}
    # grad(a) = +1*2 (doc1, bag) - 1*1 (doc2) = +1; grad(a a) = +1
    assert got1 == {b_a: (1, 1), b_aa: (1, 1)}

    w2 = perceptron_step(docs, w1.select("bucket", "weight"), n_b)
    got2 = {r.bucket: (r.weight, r.grad) for r in w2.collect()}
    # doc1 scores 2*1+1=3 (correct); doc2 scores 1 (wrong, y=-1);
    # doc3 scores 0 (wrong but featureless) -> grad(a) = -1 only
    assert got2 == {b_a: (0, -1), b_aa: (1, 0)}


def test_kernel_density_tent_kernel(spark):
    """kernel_density (q161): one point at radius 1 paints the exact
    [1 2 1; 2 4 2; 1 2 1] tent; two coincident points double it; a
    grid-corner point clamps off-grid mass (no wraparound)."""
    from osmcha_spark.geo.cells import _axis_col  # noqa: F401 (spec ref)
    from osmcha_spark.operators.tiles import kernel_density

    def pt(u, v, level=10):
        span = 360.0 / (1 << level)
        return (-180.0 + (u + 0.5) * span,
                -90.0 + (v + 0.5) * (180.0 / (1 << level)))

    one = spark.createDataFrame([pt(100, 100)], "lon double, lat double")
    got = {(r.x, r.y): r.kde
           for r in kernel_density(one, level=10, radius=1).collect()}
    want = {}
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            want[(100 + dx, 100 + dy)] = (2 - abs(dx)) * (2 - abs(dy))
    assert got == want

    two = spark.createDataFrame([pt(100, 100), pt(100, 100)],
                                "lon double, lat double")
    got2 = {(r.x, r.y): r.kde
            for r in kernel_density(two, level=10, radius=1).collect()}
    assert got2 == {k: 2 * v for k, v in want.items()}

    corner = spark.createDataFrame([pt(0, 0)], "lon double, lat double")
    gotc = {(r.x, r.y): r.kde
            for r in kernel_density(corner, level=10, radius=1).collect()}
    assert gotc == {(0, 0): 4, (0, 1): 2, (1, 0): 2, (1, 1): 1}


def test_lpa_step_tiebreak_multiedge_selfloop_isolated(spark):
    """lpa_step (q162): tie -> smallest label; a multi-edge votes
    multiply; a self-loop votes the node's own label TWICE (the
    symmetrization emits both directions), so it beats a single
    outside vote; an isolated node keeps its label."""
    from osmcha_spark.operators.graph import lpa_step

    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 6, 7, 8, 9, 42)], "node_id long")
    edges = spark.createDataFrame(
        [(5, 7), (5, 3),          # node 5: nbr labels {7, 3} tie -> 3
         (6, 8), (8, 6), (6, 3),  # node 6: {8: 2 votes, 3: 1} -> 8
         (9, 9), (9, 1)],         # node 9: {9: 2 (loop), 1: 1} -> 9
        "src long, dst long")
    labels = nodes.selectExpr("node_id", "node_id AS label")
    got = {r.node_id: r.label
           for r in lpa_step(nodes, edges, labels).collect()}
    assert got[5] == 3
    assert got[6] == 8
    assert got[9] == 9
    assert got[42] == 42


def test_lpa_converges_on_two_communities(spark):
    """Iterated lpa_step: two 4-cliques joined by one bridge settle on
    one label per clique within a few synchronous rounds, and the
    labeling is a fixed point."""
    from itertools import combinations

    from osmcha_spark.operators.graph import lpa_step

    a = [0, 1, 2, 3]
    b = [10, 11, 12, 13]
    e = [p for p in combinations(a, 2)] + \
        [p for p in combinations(b, 2)] + [(3, 10)]
    nodes = spark.createDataFrame([(i,) for i in a + b], "node_id long")
    edges = spark.createDataFrame(e, "src long, dst long")
    labels = nodes.selectExpr("node_id", "node_id AS label")
    for _ in range(4):
        labels = spark.createDataFrame(
            lpa_step(nodes, edges, labels).collect(),
            "node_id long, label long")
    got = {r.node_id: r.label for r in labels.collect()}
    assert len({got[i] for i in a}) == 1
    assert len({got[i] for i in b}) == 1
    assert got[0] != got[10]
    again = {r.node_id: r.label
             for r in lpa_step(nodes, edges, labels).collect()}
    assert again == got


def test_radius_of_gyration_hand_computed(spark):
    """radius_of_gyration (q164): a stationary mover scores rog_num 0;
    a two-point mover scores n·Σd² − Σ² by hand; coincident pings
    count one distinct cell."""
    from osmcha_spark.operators.tiles import radius_of_gyration

    def pt(uid, u, v):
        return (uid, -180.0 + (u + 0.5) / 256.0, -90.0 + (v + 0.5) / 256.0)

    df = spark.createDataFrame(
        [pt(1, 100, 100), pt(1, 100, 100),           # stationary
         pt(2, 10, 20), pt(2, 14, 23)],              # dx=4, dy=3
        "user_id long, lon double, lat double")
    got = {r.user_id: r for r in
           radius_of_gyration(df, scale=256.0, level=12).collect()}
    assert got[1].rog_num == 0
    assert got[1].n_pings == 2 and got[1].n_cells == 1
    # n=2: 2*(296 + 929) - 24^2 - 43^2 = 25 — for two points rog_num
    # collapses to the squared pair distance dx^2 + dy^2
    assert got[2].rog_num == 4 * 4 + 3 * 3
    assert got[2].n_pings == 2 and got[2].n_cells == 2


def test_mobility_entropy_quantized(spark):
    """mobility_entropy (q165): a one-cell camper scores 0; an even
    4-cell spread of 8 pings scores exactly n*flog2(n) - sum =
    8*3 - 4*(2*1) = 16 (true n*H = 16 — dyadic distributions are
    where the floor-log is exact); a 3-vs-1 split shows the documented
    quantization coarseness (flog2(3) = 1)."""
    from osmcha_spark.operators.tiles import mobility_entropy

    def pt(uid, u, v):
        span = 360.0 / 4096
        return (uid, -180.0 + (u + 0.5) * span,
                -90.0 + (v + 0.5) * (180.0 / 4096))

    rows = [pt(1, 5, 5)] * 6
    rows += [pt(2, c, c) for c in (10, 20, 30, 40) for _ in range(2)]
    rows += [pt(3, 50, 50)] * 3 + [pt(3, 60, 60)]
    df = spark.createDataFrame(rows, "user_id long, lon double, lat double")
    got = {r.user_id: r for r in mobility_entropy(df, level=12).collect()}
    assert (got[1].ent_num, got[1].n_cells, got[1].n_pings) == (0, 1, 6)
    assert (got[2].ent_num, got[2].n_cells) == (16, 4)
    # n=4: 4*flog2(4) - (3*flog2(3) + 1*flog2(1)) = 8 - 3 = 5
    assert (got[3].ent_num, got[3].n_cells) == (5, 2)


def test_revert_events_planted_history(spark):
    """revert_events (q166): A->B->A flags the third edit (reverter /
    reverted_user attributed); A->A->A (no intervening change) and
    A->B->C (no return) don't; a second revert in the same history
    flags independently; self-reverts are included; ts ties break on
    event_id."""
    from datetime import datetime

    from osmcha_spark.operators.events import revert_events

    t0 = datetime(2024, 1, 1)

    def e(eid, obj, sec, user, state):
        return (eid, obj, datetime(2024, 1, 1, 0, 0, sec), user, state)

    rows = [
        # obj 1: A B A  -> revert at eid 3; then B again, A -> revert at 5
        e(1, 1, 1, 10, 0), e(2, 1, 2, 11, 1), e(3, 1, 3, 12, 0),
        e(4, 1, 4, 13, 1), e(5, 1, 5, 10, 0),
        # obj 2: A A A -> never (s1 == state)
        e(6, 2, 1, 20, 7), e(7, 2, 2, 21, 7), e(8, 2, 3, 22, 7),
        # obj 3: A B C -> never; obj 4: self-revert A B A same user
        e(9, 3, 1, 30, 0), e(10, 3, 2, 30, 1), e(11, 3, 3, 30, 2),
        e(12, 4, 1, 40, 5), e(13, 4, 2, 40, 6), e(14, 4, 3, 40, 5),
        # obj 5: tie timestamps — order by event_id: A(15) B(16) A(17)
        (15, 5, t0, 50, 0), (16, 5, t0, 51, 1), (17, 5, t0, 52, 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, object_id long, ts timestamp, "
              "user_id long, state long")
    got = {r.event_id: (r.reverter, r.reverted_user)
           for r in revert_events(df).collect()}
    assert got == {
        # obj 1 is a full A-B-A-B-A edit war: every edit from the third
        # on restores the state of two edits back, so 3, 4 AND 5 flag
        3: (12, 11), 4: (13, 12), 5: (10, 13),
        14: (40, 40),               # obj 4 self-revert included
        17: (52, 51),               # obj 5 tie broken by event_id
    }


def test_radius_anti_join_gap_detection(spark):
    """radius_anti_join (q167): a point just inside the radius of a POI
    is covered, just outside is a gap; a cell-boundary-straddling
    cover still counts (covering-cells completeness); empty POI set ->
    every point is a gap."""
    from osmcha_spark.operators.knn import radius_anti_join

    pts = spark.createDataFrame(
        [(1, 0.9, 0.0),      # 0.9 from the POI -> covered
         (2, 1.1, 0.0),      # 1.1 from the POI -> gap
         (3, 40.0, 40.0)],   # far -> gap
        "id long, lon double, lat double")
    pois = spark.createDataFrame([(100, 0.0, 0.0)],
                                 "id long, lon double, lat double")
    got = sorted(r.id for r in
                 radius_anti_join(pts, pois, radius=1.0).collect())
    assert got == [2, 3]

    none = spark.createDataFrame([], "id long, lon double, lat double")
    got2 = sorted(r.id for r in
                  radius_anti_join(pts, none, radius=1.0).collect())
    assert got2 == [1, 2, 3]


def test_flow_anomalies_independence_residual(spark):
    """flow_anomalies (q168): on a perfectly independent 2x2 matrix
    every residual is 0; boosting one corridor flips it positive and
    its complements negative — hand-computed n*T - R*C."""
    from osmcha_spark.operators.tiles import flow_anomalies

    indep = spark.createDataFrame(
        [(1, 10, 4), (1, 11, 8), (2, 10, 2), (2, 11, 4)],
        "from_cell long, to_cell long, n_trips long")
    got = {(r.from_cell, r.to_cell): (r.anomaly_num, r.flag)
           for r in flow_anomalies(indep).collect()}
    assert all(v == (0, 0) for v in got.values())

    boosted = spark.createDataFrame(
        [(1, 10, 10), (1, 11, 8), (2, 10, 2), (2, 11, 4)],
        "from_cell long, to_cell long, n_trips long")
    got2 = {(r.from_cell, r.to_cell): (r.anomaly_num, r.flag)
            for r in flow_anomalies(boosted).collect()}
    # T=24, R1=18, R2=6, C10=12, C11=12
    assert got2[(1, 10)] == (10 * 24 - 18 * 12, 1)
    assert got2[(1, 11)] == (8 * 24 - 18 * 12, -1)
    assert got2[(2, 10)] == (2 * 24 - 6 * 12, -1)
    assert got2[(2, 11)] == (4 * 24 - 6 * 12, 1)


def test_knox_pairs_hand_computed(spark):
    """knox_pairs (q169): three events — two close in space AND time,
    one far in both — give hand-countable marginals; a time-bucket-
    straddling pair (dt just under tau across the bucket edge) is
    found by the 1D 3-offset emission."""
    from osmcha_spark.operators.tiles import knox_pairs

    def pt(pid, u, t_us):
        return (pid, t_us,
                -180.0 + (u + 0.5) / 2048.0, -90.0 + 0.5 / 2048.0)

    tau = 1_000_000
    rows = [
        pt(1, 1000, 100),            # close to 2 in space and time
        pt(2, 1010, 200),
        pt(3, 9000, 50_000_000),     # far from both in space and time
        # 4 and 5: same spot, dt = 0.9*tau straddling a bucket edge
        pt(4, 20000, tau - 100),
        pt(5, 20000, tau + 100),
    ]
    df = spark.createDataFrame(
        rows, "id long, t_us long, lon double, lat double")
    r = knox_pairs(df, r_space=32, t_window_us=tau).collect()[0]
    # pairs: C(5,2)=10; space-close: (1,2), (4,5); time-close: (1,2),
    # (4,5), (1,4), (1,5), (2,4), (2,5); both: (1,2), (4,5)
    assert (r.n_pairs, r.n_space, r.n_time, r.n_both) == (10, 2, 6, 2)
    assert r.knox_num == 2 * 10 - 2 * 6


def test_flow_directions_sectors_and_modal_tiebreak(spark):
    """flow_directions (q171): planted hops exercise the sign-rule
    sectors (E=0, NE=1, N=2, W=4); a 1-1 tie between sectors breaks
    toward the SMALLER id; dwell (same-cell) pings produce no trip."""
    from datetime import datetime

    from osmcha_spark.operators.tiles import flow_directions

    span = 360.0 / 4096

    def pt(uid, sec, u, v):
        return (uid, datetime(2024, 1, 1, 0, 0, sec), sec,
                -180.0 + (u + 0.5) * span,
                -90.0 + (v + 0.5) * (180.0 / 4096))

    rows = [
        # mover 1 from (100,100): E hop, return W, E again -> modal E(0)
        pt(1, 1, 100, 100), pt(1, 2, 101, 100), pt(1, 3, 100, 100),
        pt(1, 4, 101, 100),
        # mover 2 from (200,200): NE hop then (back) SW then N hop ->
        # origin (200,200) has NE(1) and N(2) one each -> tie -> 1
        pt(2, 1, 200, 200), pt(2, 2, 201, 201), pt(2, 3, 200, 200),
        pt(2, 4, 200, 201),
        # mover 3: dwell only -> no trips anywhere
        pt(3, 1, 300, 300), pt(3, 2, 300, 300),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, "
              "lon double, lat double")
    got = {(r.x, r.y): (r.n_trips, r.modal_dir, r.modal_n)
           for r in flow_directions(df, level=12,
                                    order_col="event_id").collect()}
    assert got[(100, 100)] == (2, 0, 2)      # two E hops
    assert got[(101, 100)] == (1, 4, 1)      # the W return
    assert got[(200, 200)] == (2, 1, 1)      # NE/N tie -> NE (smaller)
    assert got[(201, 201)] == (1, 5, 1)      # the SW return
    assert (300, 300) not in got


def test_decayed_density_halflife_shifts(spark):
    """decayed_density (q172): ages 0/1/2 halflives weigh exactly
    2^k/2^(k-1)/2^(k-2); a point beyond max_halflives contributes 0
    (and an all-stale cell disappears); a future point clamps to full
    weight."""
    from osmcha_spark.operators.tiles import decayed_density

    HL = 1_000_000
    span = 360.0 / 1024

    def pt(u, v, t):
        return (t, -180.0 + (u + 0.5) * span,
                -90.0 + (v + 0.5) * (180.0 / 1024))

    rows = [
        pt(5, 5, 10 * HL),       # age 0 -> 2^4
        pt(5, 5, 9 * HL),        # age 1 -> 2^3
        pt(5, 5, 8 * HL + 1),    # age 1 (floor) -> 2^3
        pt(7, 7, 10 * HL - 5 * HL),  # age 5 > k=4 -> 0, cell drops
        pt(9, 9, 11 * HL),       # future -> clamps to age 0 -> 2^4
    ]
    df = spark.createDataFrame(rows, "t_us long, lon double, lat double")
    got = {(r.x, r.y): (r.n, r.decayed)
           for r in decayed_density(df, level=10, t_ref_us=10 * HL,
                                    halflife_us=HL,
                                    max_halflives=4).collect()}
    assert got[(5, 5)] == (3, 16 + 8 + 8)
    assert (7, 7) not in got
    assert got[(9, 9)] == (1, 16)


def test_hexbin_nearest_center_and_tie(spark):
    from osmcha_spark.operators.tiles import hexbin

    dx, dy = 100, 173
    # A-centers: (0,0), (200,0), (0,346)...; B-centers: (100,173), ...
    pts = [
        (10, 10),      # near A (0, 0)
        (-10, -10),    # near A (0, 0) — negative floor-div side
        (95, 160),     # near B (100, 173)
        (210, 5),      # near A (200, 0)
        (105, 180),    # near B (100, 173)
    ]
    df = spark.createDataFrame(pts, "ix: long, iy: long")
    got = {(r.hx, r.hy): r.n for r in hexbin(df, dx, dy).collect()}
    assert got == {(0, 0): 2, (100, 173): 2, (200, 0): 1}

    # exact tie: (50, 0) is 50 from A(0,0)? no — A candidates are the
    # nearest multiples: x=50 → A x-center 2*100*round(...)=100? use
    # the algebra: equidistant point between A(0,0) and B(100,173) on
    # the segment midpoint (50, 86.5) is not integer; use symmetric
    # construction (50, 87) vs (50, 86): brute-check against numpy.
    import numpy as np

    rng = np.random.RandomState(7)
    xs = rng.randint(-700, 700, 300)
    ys = rng.randint(-700, 700, 300)
    df2 = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(xs, ys)], "ix: long, iy: long")
    got2 = {(r.hx, r.hy): r.n for r in hexbin(df2, dx, dy).collect()}

    def brute(x, y):
        axc = 2 * dx * ((x + dx) // (2 * dx))
        ayc = 2 * dy * ((y + dy) // (2 * dy))
        bxc = 2 * dx * (x // (2 * dx)) + dx
        byc = 2 * dy * (y // (2 * dy)) + dy
        da = (x - axc) ** 2 + (y - ayc) ** 2
        db = (x - bxc) ** 2 + (y - byc) ** 2
        return (axc, ayc) if da <= db else (bxc, byc)

    exp = {}
    for x, y in zip(xs, ys):
        k = brute(int(x), int(y))
        exp[k] = exp.get(k, 0) + 1
    assert got2 == exp


def test_morans_i_blob_vs_checkerboard(spark):
    from osmcha_spark.operators.tiles import morans_i

    # level-10 lon cell width = 360/1024 ≈ 0.3516°; build points by
    # picking cell centers directly. Blob: a 2×2 block of cells with
    # counts [4,4,4,4] plus two far singletons → positive I.
    def pt(cx, cy):
        lon = -180.0 + (cx + 0.5) * 360.0 / 1024
        lat = -90.0 + (cy + 0.5) * 180.0 / 1024
        return (lon, lat)

    rows = []
    for cx, cy in [(100, 100), (101, 100), (100, 101), (101, 101)]:
        rows += [pt(cx, cy)] * 4
    rows += [pt(400, 400), pt(700, 200)]
    df = spark.createDataFrame(rows, "lon: double, lat: double")
    out = morans_i(df, level=10).collect()[0]
    # N=6 cells, S=18; dev: blob cells 6*4-18=6 (×4), singles 6*1-18=-12
    # adjacency: the 2×2 block has 8 ordered adjacent pairs, each 6*6
    assert out.n_cells == 6 and out.w_pairs == 8
    assert out.num == 8 * 36
    assert out.den == 4 * 36 + 2 * 144
    # checkerboard: alternating occupied cells — NO rook-adjacent
    # occupied pairs at all → w_pairs = 0 (I undefined; caller's guard)
    rows2 = [pt(10 + i, 10 + j) for i in range(0, 6, 2)
             for j in range(0, 6, 2)]
    out2 = morans_i(
        spark.createDataFrame(rows2, "lon: double, lat: double"),
        level=10).collect()[0]
    assert out2.w_pairs == 0 and out2.num == 0


def test_segment_crossings_planted_geometry(spark):
    from osmcha_spark.operators.tiles import segment_crossings

    # users walk one segment each; ts in seconds epoch
    rows = [
        # u1: X-crossing diagonal (0,0)->(100,100)
        (1, 0, 1, 0, 0), (1, 10, 2, 100, 100),
        # u2: crossing anti-diagonal (0,100)->(100,0) — crosses u1
        (2, 0, 3, 0, 100), (2, 10, 4, 100, 0),
        # u3: T-touch — endpoint ON u1's interior (50,50)->(150,-50):
        # starts exactly on u1 (collinear sign 0) → NOT proper
        (3, 0, 5, 50, 50), (3, 10, 6, 150, -50),
        # u4: shares endpoint (0,0) with u1, heads away → NOT proper
        (4, 0, 7, 0, 0), (4, 10, 8, -100, 50),
        # u5: parallel to u1, offset → never crosses u1 (but DOES
        # properly cross u2's anti-diagonal at (45, 55))
        (5, 0, 9, 0, 10), (5, 10, 10, 100, 110),
        # u6/u7: crossing pair straddling a bucket boundary (bucket=200)
        (6, 0, 11, 150, 150), (6, 10, 12, 250, 250),
        (7, 0, 13, 150, 250), (7, 10, 14, 250, 150),
        # u8: far away — no candidates
        (8, 0, 15, 5000, 5000), (8, 10, 16, 5100, 5100),
    ]
    df = spark.createDataFrame(
        rows, "user_id: long, ts: long, event_id: long, ix: long, iy: long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(r.u1, r.o1, r.u2, r.o2)
           for r in segment_crossings(df, bucket=200,
                                      order_col="event_id").collect()}
    assert got == {(1, 1, 2, 3), (2, 3, 5, 9), (6, 11, 7, 13)}


def test_idw_surface_exact_weights(spark):
    from osmcha_spark.operators.tiles import idw_surface

    r = 100
    st = spark.createDataFrame(
        [
            (10, 0, 7),     # d²=100,  w=(10000-100)²=98010000? no: 9900²
            (0, 50, 3),     # d²=2500, w=7500²
            (0, 100, 5),    # d²=R² exactly → w=0, still counted in n
            (0, 101, 9),    # outside — excluded
            (-80, -60, 2),  # d²=10000 = R² exactly → w=0
        ],
        "sx: long, sy: long, v: long",
    )
    grid = spark.createDataFrame([(0, 0)], "qx: long, qy: long")
    out = idw_surface(st, grid, radius=r).collect()
    assert len(out) == 1
    row = out[0]
    w1, w2 = 9900 ** 2, 7500 ** 2
    assert row.n == 4
    assert row.wsum == w1 + w2
    assert row.wvsum == w1 * 7 + w2 * 3


def test_vocab_growth_unigram_and_bigram(spark):
    from osmcha_spark.operators.text import vocab_growth

    docs = spark.createDataFrame(
        [
            (0, "a b a"),
            (1, "b c"),
            (2, "c a b"),
            (3, ""),
            (4, "d"),
        ],
        "doc_id: long, text: string",
    )
    uni = {r.bucket: (r.new_types, r.cum_types, r.toks, r.cum_toks)
           for r in vocab_growth(docs, bucket=2).collect()}
    # bucket 0: docs 0-1 → toks 5, new {a,b,c}=3; bucket 1: docs 2-3 →
    # toks 3, new 0; bucket 2: doc 4 → toks 1, new {d}=1
    assert uni == {0: (3, 3, 5, 5), 1: (0, 3, 3, 8), 2: (1, 4, 1, 9)}
    bi = {r.bucket: (r.new_types, r.cum_types, r.toks, r.cum_toks)
          for r in vocab_growth(docs, bucket=2, ngram=2).collect()}
    # bigrams: doc0 {a b, b a}, doc1 {b c}, doc2 {c a, a b}, doc4 none
    # (single token), doc3 none → bucket2 has no occurrences: absent
    assert bi == {0: (3, 3, 3, 3), 1: (1, 4, 2, 5)}


def test_route_similarity_sets_and_threshold(spark):
    from osmcha_spark.operators.tiles import route_similarity

    # level-12 lon cell ~0.0879°: place cells by centers; users 1 and 2
    # share the directed hops A->B and B->C (inter=2); user 3 shares
    # only A->B with them (inter=1 -> below min_shared=2); user 1
    # REVISITS A->B (set semantics: still counts once)
    def c(i):  # centers of consecutive level-12 lon cells at lat 0
        return (-180.0 + (i + 0.5) * 360.0 / 4096, 0.01)

    A, B, Cc = c(100), c(101), c(102)
    rows = []
    for u, path in [(1, [A, B, Cc, A, B]), (2, [A, B, Cc]),
                    (3, [A, B])]:
        for i, (lon, lat) in enumerate(path):
            rows.append((u, i, i, lon, lat))
    df = spark.createDataFrame(
        rows, "user_id: long, ts: long, event_id: long, "
              "lon: double, lat: double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r.u1, r.u2): (r.inter, r.na, r.nb)
           for r in route_similarity(df, level=12, min_shared=2,
                                     order_col="event_id").collect()}
    # user 1 transitions: {A->B, B->C, C->A} (revisit deduped) na=3
    assert out == {(1, 2): (2, 3, 2)}


def test_pmi_collocations_hand_counts(spark):
    """Hand corpus: occurrence counting (not doc-distinct), the hapax
    prune, and the factored flog2 score term-for-term."""
    from osmcha_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(0, "x y x y z w"), (1, "x y z x q w")],
        "doc_id long, text string")
    out = {(r.w1, r.w2): (r.n_pair, r.n1, r.n2, r.total, r.qpmi)
           for r in pmi_collocations(docs, min_pair=2).collect()}
    # "x y" adjacent 3x; x occurs 4, y occurs 3, 12 tokens total:
    # qpmi = flog2(3)+flog2(12)-flog2(4)-flog2(3) = 1+3-2-1 = 1
    assert out == {
        ("x", "y"): (3, 4, 3, 12, 1),
        ("y", "z"): (2, 3, 2, 12, 2),
    }
    # hapax pairs ("y x", "z w", "z x", "x q", "q w") are pruned;
    # min_pair=1 admits them with exact counts
    all_pairs = {(r.w1, r.w2): r.n_pair
                 for r in pmi_collocations(docs, min_pair=1).collect()}
    assert all_pairs[("y", "x")] == 1 and len(all_pairs) == 7


def test_distinctive_terms_planted_cells(spark):
    """Planted 3-cell corpus: per-cell lift pencil arithmetic, the
    min_count prune, and the deterministic (qlift, n_ct, tok) rank
    order incl. the alphabetical tie-break."""
    from osmcha_spark.operators.tiles import distinctive_terms

    rows = [
        # cell A (lon -170): alpha x3, beta, gamma -> n_c = 5
        (-170.0, 0.0, "alpha alpha beta"),
        (-170.0, 0.0, "alpha gamma"),
        # cell B (lon +170): beta x2, gamma -> n_c = 3
        (170.0, 0.0, "beta beta gamma"),
        # cell C (lon 0): x2 y2 -> exact qlift tie, tok breaks it
        (0.0, 0.0, "x x y y"),
    ]
    docs = spark.createDataFrame(rows, "lon double, lat double, text string")
    out = distinctive_terms(docs, level=5, k=3, min_count=2,
                            text_col="text")
    got = {(r.x, r.tok): (r.n_ct, r.n_c, r.n_t, r.total, r.qlift, r.rnk)
           for r in out.collect()}
    xs = sorted({x for x, _ in got})
    a, c, b = xs[0], xs[1], xs[2]
    # total = 12 tokens; hapax (cell, tok) pairs pruned everywhere
    assert got[(a, "alpha")] == (3, 5, 3, 12, 1 + 3 - 1 - 2, 1)
    assert got[(b, "beta")] == (2, 3, 3, 12, 1 + 3 - 1 - 1, 1)
    # exact tie in cell C: qlift(x) == qlift(y) == 1, n_ct equal ->
    # alphabetical tok order decides the rank
    assert got[(c, "x")] == (2, 4, 2, 12, 1, 1)
    assert got[(c, "y")] == (2, 4, 2, 12, 1, 2)
    assert len(got) == 4  # nothing else survives min_count


def test_snap_to_segments_planted_geometry(spark):
    """Planted roads: interior projection (floor-quantized), beyond-
    endpoint fallback, degenerate point-segments, the (d2q, u, o)
    deterministic tie-break, and radius exclusion."""
    from osmcha_spark.operators.tiles import snap_to_segments

    segs = spark.createDataFrame([
        (1, 1, 0, 0, 100, 0),        # horizontal road
        (2, 7, 0, 60, 100, 60),      # parallel road 60 above
        (3, 9, 500, 500, 500, 500),  # degenerate (zero-length)
    ], "u long, o long, x1 long, y1 long, x2 long, y2 long")
    pts = spark.createDataFrame([
        (10, 50, 30),     # exactly between the parallels: tie at 900
        (11, 120, 40),    # beyond both ends; nearer seg 2's endpoint
        (12, 50, -10),    # interior projection onto seg 1
        (13, 505, 510),   # endpoint distance to the degenerate segment
        (14, 5000, 5000),  # nothing within radius
        (15, 103, 4),     # interior? no - beyond end: 9+16=25 exact
    ], "pid long, x long, y long")
    out = {r.pid: (r.u, r.o, r.d2q)
           for r in snap_to_segments(pts, segs, radius=300,
                                     bucket=500).collect()}
    assert out == {
        10: (1, 1, 900),   # tie on d2q -> smallest (u, o)
        11: (2, 7, 800),   # (120,40): seg1 d2b=2000, seg2 d2b=800
        12: (1, 1, 100),
        13: (3, 9, 125),
        15: (1, 1, 25),
    }
    # interior floor-quantization: cross^2 div len2 on a non-exact
    # projection - seg (0,0)-(10,1), len2 = 101. (5,5): t = 55 interior,
    # cross = 10*5 - 1*5 = 45 -> 2025 div 101 = 20 (true 20.049);
    # (5,6): cross = 55 -> 3025 div 101 = 29 (true 29.95, floored)
    segs2 = spark.createDataFrame([(1, 1, 0, 0, 10, 1)],
                                  "u long, o long, x1 long, y1 long, "
                                  "x2 long, y2 long")
    pts2 = spark.createDataFrame([(20, 5, 5), (21, 5, 6)],
                                 "pid long, x long, y long")
    out2 = {r.pid: r.d2q
            for r in snap_to_segments(pts2, segs2, radius=300,
                                      bucket=500).collect()}
    assert out2 == {20: 20, 21: 29}


def test_snap_to_segments_buckets_exact_past_2_53(spark):
    """Coordinates near 2^62 bucket exactly (int64 ``div``). The segment
    starts in bucket m and the point sits 1 unit past its end, in bucket
    m + 1. Through float ``/`` the two bucket starts round to different
    doubles 1024 apart, the buckets land 16 apart, and the point was
    silently dropped."""
    from osmcha_spark.operators.tiles import snap_to_segments

    x = 1 << 62
    segs = spark.createDataFrame(
        [(1, 1, x + 530, 0, x + 535, 0)],
        "u long, o long, x1 long, y1 long, x2 long, y2 long")
    pts = spark.createDataFrame([(1, x + 536, 0)],
                                "pid long, x long, y long")
    out = [(r.pid, r.u, r.d2q)
           for r in snap_to_segments(pts, segs, radius=10,
                                     bucket=40).collect()]
    assert out == [(1, 1, 1)]



def test_hexbin_exact_past_2_53(spark):
    """Coordinates past 2^53 bin exactly (int64 ``div``). Through float
    ``/``, (2^60 + 12345, 5) went to the B-center (x − 21, 173) instead
    of its nearest A-center (x + 79, 0)."""
    from osmcha_spark.operators.tiles import hexbin

    dx, dy = 100, 173
    x = (1 << 60) + 12345
    pts = [(x, 5), (-x, -5), (7, x)]
    df = spark.createDataFrame(pts, "ix: long, iy: long")
    got = {(r.hx, r.hy): r.n for r in hexbin(df, dx, dy).collect()}

    def brute(px, py):
        a = (2 * dx * ((px + dx) // (2 * dx)), 2 * dy * ((py + dy) // (2 * dy)))
        b = (2 * dx * (px // (2 * dx)) + dx, 2 * dy * (py // (2 * dy)) + dy)
        da = (px - a[0]) ** 2 + (py - a[1]) ** 2
        db = (px - b[0]) ** 2 + (py - b[1]) ** 2
        return a if da <= db else b

    assert brute(x, 5) == (x + 79, 0)
    assert got == {brute(px, py): 1 for px, py in pts}


def test_segment_crossings_buckets_exact_past_2_53(spark):
    """Two segments near 2^62 cross across a bucket boundary: their
    starts sit in adjacent buckets, so the 3×3 probe finds the pair.
    Through float ``/`` the two buckets landed 16 apart and the crossing
    was silently dropped."""
    from osmcha_spark.operators.tiles import segment_crossings

    x = (1 << 62) + 534
    rows = [
        (1, 0, 1, x, 0), (1, 10, 2, x + 10, 10),
        (2, 0, 3, x + 2, 10), (2, 10, 4, x + 12, 0),
    ]
    df = spark.createDataFrame(
        rows, "user_id: long, ts: long, event_id: long, ix: long, iy: long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(r.u1, r.o1, r.u2, r.o2)
           for r in segment_crossings(df, bucket=40,
                                      order_col="event_id").collect()}
    assert got == {(1, 1, 2, 3)}



def test_idw_surface_buckets_exact_past_2_53(spark):
    """A station 2 units from a grid point near 2^62 sits in the
    neighbouring bucket and is found (int64 ``div``). Through float
    ``/`` the two buckets landed 16 apart and the grid point had no
    station in radius."""
    from osmcha_spark.operators.tiles import idw_surface

    x = (1 << 62) + 534
    st = spark.createDataFrame([(x + 2, 0, 5)], "sx: long, sy: long, v: long")
    grid = spark.createDataFrame([(x, 0)], "qx: long, qy: long")
    w = (40 * 40 - 4) ** 2
    assert [tuple(r) for r in idw_surface(st, grid, radius=40).collect()] \
        == [(x, 0, 1, w, 5 * w)]


def test_k_core_peel_cascade_and_fixed_point(spark):
    """Planted graphs: a 4-clique with a pendant path under k=3 peels
    the tail and keeps the clique intact; a pure path under k=2
    cascades to empty in exactly two rounds (round 1 strips the ends,
    round 2 the middle — the one-shot degree filter would stop at
    round 1's wrong answer); extra rounds past the fixed point are
    no-ops."""
    from osmcha_spark.operators.graph import k_core_peel

    clique_tail = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
        "a long, b long")
    out = {r.node: r.deg
           for r in k_core_peel(clique_tail, k=3, rounds=2).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                                 "a long, b long")
    r1 = {(r.node, r.deg) for r in k_core_peel(path, 2, 1).collect()}
    assert r1 == {(1, 1), (2, 1)}  # ends stripped; middles now under k
    assert k_core_peel(path, 2, 2).count() == 0  # cascade completes
    assert k_core_peel(path, 2, 5).count() == 0  # fixed point is stable
    # fixed point of the clique: more rounds change nothing
    out5 = {r.node: r.deg
            for r in k_core_peel(clique_tail, k=3, rounds=5).collect()}
    assert out5 == out


def test_route_reconstruction_leg_semantics(spark):
    """Composition semantics of snap + collapse (q188): consecutive
    same-segment pings merge into one leg, a road REVISIT opens a new
    leg, and unsnapped pings drop without bridging the legs around
    them."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from osmcha_spark.operators.tiles import snap_to_segments

    roads = spark.createDataFrame([
        (1, 1, 0, 0, 100, 0),      # road A along y=0
        (2, 1, 0, 1000, 100, 1000),  # road B along y=1000
    ], "u long, o long, x1 long, y1 long, x2 long, y2 long")
    # mover 7 drives A, A, (off-grid), B, A: expect legs A(2), B(1), A(1)
    pings = spark.createDataFrame([
        (1, 7, 10, 5), (2, 7, 20, 5), (3, 7, 50, 50000),
        (4, 7, 30, 995), (5, 7, 40, 5),
    ], "pid long, mover long, x long, y long")
    snapped = snap_to_segments(pings, roads, radius=300, bucket=500)
    seq = pings.select("pid", "mover").join(snapped, "pid")
    w = Window.partitionBy("mover").orderBy("pid")
    pu, po = F.lag("u").over(w), F.lag("o").over(w)
    nl = (pu.isNull() | (pu != F.col("u")) | (po != F.col("o"))) \
        .cast("long")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    legs = (
        seq.withColumn("__nl", nl)
        .withColumn("leg", F.sum("__nl").over(cum))
        .groupBy("mover", "leg", "u")
        .agg(F.count(F.lit(1)).alias("n_pings"),
             F.min("pid").alias("start_pid"))
    )
    got = sorted((r.leg, r.u, r.n_pings, r.start_pid)
                 for r in legs.collect())
    assert got == [(1, 1, 2, 1), (2, 2, 1, 4), (3, 1, 1, 5)]


def test_gap_histogram_dyadic_buckets(spark):
    """Hand gaps: the (ts, id) tiebreak makes same-microsecond events a
    deterministic zero-gap (bucket 0); buckets double; first event per
    key excluded; the dyadic envelope holds."""
    from pyspark.sql import functions as F

    from osmcha_spark.operators.events import gap_histogram

    T0 = 1_700_000_000_000_000
    rows = [
        (1, T0, "a", 1), (2, T0, "a", 1),        # tie: gap 0 -> bucket 0
        (3, T0 + 1, "a", 1),                      # gap 1 -> bucket 1
        (4, T0 + 1000, "b", 1),                   # gap 999 -> bucket 9
        (5, T0 + 50, "a", 2),                     # other key: first, none
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, us long, event_type string, user_id long"
    ).select("event_id", F.timestamp_micros("us").alias("ts"),
             "event_type", "user_id")
    out = {(r.event_type, r.bucket): (r.n, r.min_gap_us, r.max_gap_us)
           for r in gap_histogram(ev).collect()}
    assert out == {
        ("a", 0): (1, 0, 0),
        ("a", 1): (1, 1, 1),
        ("b", 9): (1, 999, 999),
    }
    # dyadic envelope on real-shaped data: 2^b - 1 <= gap < 2^(b+1) - 1
    ev2 = spark.createDataFrame(
        [(i, T0 + i * i * 37, "x", 1) for i in range(1, 40)],
        "event_id long, us long, event_type string, user_id long"
    ).select("event_id", F.timestamp_micros("us").alias("ts"),
             "event_type", "user_id")
    for r in gap_histogram(ev2).collect():
        assert (1 << r.bucket) - 1 <= r.min_gap_us
        assert r.max_gap_us < (1 << (r.bucket + 1)) - 1


def test_trimmed_agg_cut_and_ties(spark):
    """Hand group: 10% trim of 10 rows cuts exactly one from each end;
    tied boundary values are cut by id (deterministic); a tiny group
    (n*p < 1) trims nothing."""
    from osmcha_spark.operators.quantiles import trimmed_agg

    rows = [(1, "g", v, i) for i, v in
            enumerate([5, 1, 9, 3, 3, 7, 2, 8, 1, 6])]
    # sorted by (v, id): 1(id1),1(id8),2,3,3,5,6,7,8,9 -> cut first 1
    # (id 1) and the 9; kept sum = 1+2+3+3+5+6+7+8 = 35
    small = [(1, "s", 10, 100), (1, "s", 20, 101)]  # n=2, cut=0
    df = spark.createDataFrame(
        [(g, t, v, i) for g, t, v, i in rows + small],
        "one long, event_type string, cents long, event_id long")
    out = {r.event_type: (r.n_total, r.n_kept, r.sum_kept)
           for r in trimmed_agg(df, "event_type", "cents", 1, 10,
                                "event_id").collect()}
    assert out == {"g": (10, 8, 35), "s": (2, 2, 30)}


def test_calibration_table_floor_bands(spark):
    """Hand scores: NEGATIVE scores band by FLOOR (score -1 is band -1,
    not 0 — the truncation bug the R119 idiom exists to avoid), exact
    per-band counts/positives, and band edges inclusive."""
    from osmcha_spark.operators.curation import calibration_table

    rows = [(-1001, 1), (-1000, 0), (-1, 1), (0, 0), (499, 1),
            (500, 0), (999, 1), (1000, 1)]
    df = spark.createDataFrame(rows, "score long, label long")
    out = {r.band: (r.n, r.n_pos, r.min_score, r.max_score)
           for r in calibration_table(df, "score", "label",
                                      width=500).collect()}
    assert out == {
        -3: (1, 1, -1001, -1001),
        -2: (1, 0, -1000, -1000),
        -1: (1, 1, -1, -1),
        0: (2, 1, 0, 499),
        1: (2, 1, 500, 999),
        2: (1, 1, 1000, 1000),
    }


def test_calibration_table_bands_exact_past_2_53(spark):
    """Scores beyond 2^53 band exactly: the floor division runs in int64
    ``div``, so a double's 53-bit mantissa never rounds a band (through
    float ``/``, 2^60 + 7 at width 2 banded to 2^59, not 2^59 + 3)."""
    from osmcha_spark.operators.curation import calibration_table

    big = (1 << 60) + 7
    df = spark.createDataFrame([(big, 1), (-big, 0)],
                               "score long, label long")
    out = {r.band: (r.n, r.min_score)
           for r in calibration_table(df, "score", "label",
                                      width=2).collect()}
    assert out == {(big - 1) // 2: (1, big), -(big + 1) // 2: (1, -big)}


def test_quantile_normalize_ranks_and_edges(spark):
    """Hand groups: pr spans [0, 1000] with min -> 0 and max -> 1000,
    tied values cut by id into consecutive ranks, a singleton group
    normalizes to 0, and the floored per-mille values match pencil
    arithmetic."""
    from osmcha_spark.operators.rank import quantile_normalize

    rows = [("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("a", 4, 20),
            ("s", 9, 99)]
    df = spark.createDataFrame(rows, "source string, doc_id long, v long")
    out = {r.doc_id: (r.rnk, r.n, r.pr)
           for r in quantile_normalize(df, "source", "v",
                                       "doc_id").collect()}
    # order in 'a': 10(id1), 20(id3), 20(id4), 30(id2); n=4
    assert out == {
        1: (1, 4, 0),
        3: (2, 4, 333),   # (1*1000) div 3
        4: (3, 4, 666),   # (2*1000) div 3
        2: (4, 4, 1000),
        9: (1, 1, 0),     # singleton group
    }
