"""Embedding similarity search (engine-only; training-data pipeline ops).

- **brute_topk** — exact top-k neighbors by quantized dot product:
  scores are Σ round(a_i·Q)·round(b_i·Q) over int64 — integer math, so the
  score is independent of summation order and identical in any engine
  (float dot products are order-sensitive and can't be oracle-hashed
  reliably). Q=1024 keeps 64-dim unit-ish vectors well inside int64.
  Plan: broadcast the (small) query set against the corpus → window top-k.
- **cosine_topk** — the float variant (reported cosine, Spark-only path).
- **lsh_topk** — the scale path: random-hyperplane signatures (plane
  signs derived in-plan from xxhash64 parity of (i, j) — deterministic,
  no RNG state, no driver-side matrix), bucket by signature prefix,
  search only within bucket ∪ Hamming-1 probe buckets. Recall<1 by
  design, but the candidate generation is MIRRORED by q24's oracle via
  ``xxhash_planes`` (a pure-Python xxHash64), so it is fully
  oracle-checked since r4 — the q36/q38 mirrored-candidate pattern.

At 10^12 rows brute force is O(N·Q) per query batch — fine when the query
side is broadcast and small; the LSH path bounds candidates per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1024


def _qvec(col) -> F.Column:
    """array<long> of round(x · QUANT) — the portable integer embedding."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * QUANT).cast("long")
    )


def _dot_int(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score, rank): exact integer-quantized
    dot-product top-k, excluding self; ties broken by neighbor_id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _qvec(F.col(vec_col)).alias("cv")
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            _dot_int(F.col("qv"), F.col("cv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Float cosine variant (reports the actual cosine; Spark-only)."""
    def dvec(col):
        return F.transform(col, lambda x: x.cast("double"))

    def norm(col):
        return F.sqrt(
            F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
        )

    q = queries.select(
        F.col(id_col).alias("query_id"), dvec(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), dvec(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (dot / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold_num: int,
    threshold_den: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    n_blocks: int = 64,
) -> DataFrame:
    """(a, b, dot, na2, nb2): unordered pairs with
    cosine ≥ threshold_num/threshold_den — the embedding-cosine near-dup
    stage of a training-data dedup pipeline.

    The threshold test is pure int64 arithmetic on the quantized vectors
    (dot > 0 ∧ den²·dot² ≥ num²·‖a‖²·‖b‖²), so the decision is
    bit-identical in any engine — no float boundary cases. With 64-dim
    inputs bounded by |x| ≤ 1 and QUANT = 1024, every product stays under
    2^61.

    Two plans:

    - ``candidates`` given (columns ``a``, ``b``): the SCALE path — this
      becomes the exact *verification* stage over a bounded candidate set
      (``lsh_band_candidates`` or any (a, b) source): two equi-joins to
      fetch vectors, then the integer threshold filter. O(|candidates|),
      no quadratic anything.
    - ``candidates=None``: exact all-pairs, expressed as a BLOCKED
      equi-join rather than an ``a < b`` theta join: the left side
      explodes each row to every block id, the right side hashes
      ``b % n_blocks`` — so every unordered pair meets in exactly one
      (left-block, right-block) cell and Catalyst plans a shuffled
      equi-join with ``n_blocks``-way parallelism instead of a
      BroadcastNestedLoopJoin/CartesianProduct pinned to one task.
      Work is still O(N²) — that is inherent to *exact* all-pairs — but
      it is evenly partitioned and spill-safe. At corpus scale, pass
      ``candidates``.
    """
    v = corpus.select(
        F.col(id_col).alias("__id"), _qvec(F.col(vec_col)).alias("__v")
    )
    n2 = _dot_int(F.col("__v"), F.col("__v"))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    threshold_filter = (F.col("dot") > 0) & (
        F.lit(den2) * F.col("dot") * F.col("dot")
        >= F.lit(num2) * F.col("na2") * F.col("nb2")
    )
    left = v.select(
        F.col("__id").alias("a"), F.col("__v").alias("av"), n2.alias("na2")
    )
    right = v.select(
        F.col("__id").alias("b"), F.col("__v").alias("bv"), n2.alias("nb2")
    )
    dot = _dot_int(F.col("av"), F.col("bv"))
    if candidates is not None:
        return (
            candidates.select("a", "b")
            .join(left, "a")
            .join(right, "b")
            .select("a", "b", dot.alias("dot"), "na2", "nb2")
            .where(threshold_filter)
        )
    lb = left.withColumn(
        "__blk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    )
    rb = right.withColumn(
        # pmod, not %: Spark % keeps the dividend's sign, so a negative id
        # would land outside the 0..n_blocks-1 explode range and its pairs
        # would silently vanish from the "exact" result
        "__blk", F.pmod(F.col("b"), F.lit(n_blocks)).cast("int")
    )
    return (
        lb.join(rb, "__blk")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", dot.alias("dot"), "na2", "nb2")
        .where(threshold_filter)
    )


def assign_to_centroids(
    vectors: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid in the GIVEN codebook
    (``cents`` = (centroid_id, cv array<long>)) under integer-quantized
    squared L2, ties to the lowest centroid id. Returns
    (id, qv array<long>, centroid_id).

    Plan: broadcast the (small) codebook against the vectors → min_by
    argmin. One wide projection + one key shuffle for the per-id argmin —
    the vectors never shuffle on data size.
    """
    v = vectors.select(
        F.col(id_col).alias("id"), _qvec(F.col(vec_col)).alias("qv")
    )
    diff2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = v.crossJoin(F.broadcast(cents)).select(
        "id", "qv", "centroid_id", diff2.alias("d2")
    )
    return scored.groupBy("id", "qv").agg(
        F.min(F.struct("d2", "centroid_id")).alias("best")
    ).select("id", "qv", F.col("best.centroid_id").alias("centroid_id"))


def ivf_assign(
    corpus: DataFrame,
    centroid_stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer with a deterministic codebook: centroids are the
    corpus rows with ``id % stride == 0`` (no RNG, no training iterations —
    reproducible in any engine). Returns (centroids, assignments) where
    assignments = (id, qv array<long>, centroid_id) by nearest centroid
    under integer-quantized squared L2, ties to the lowest centroid id
    (:func:`assign_to_centroids`).
    """
    v = corpus.select(
        F.col(id_col).alias("id"), _qvec(F.col(vec_col)).alias("qv")
    )
    cents = v.where(F.col("id") % centroid_stride == 0).select(
        F.col("id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    return cents, assign_to_centroids(corpus, cents, id_col, vec_col)


def kmeans_step(
    corpus: DataFrame,
    centroid_stride: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration over the corpus — the codebook-training
    primitive behind every IVF/PQ index (:func:`ivf_assign` is the
    assignment half; this adds the centroid UPDATE). Seeds are the same
    deterministic ``id % stride == 0`` codebook, so the step — unlike
    RNG-seeded k-means — is reproducible in any engine and
    oracle-checkable value-for-value.

    Output is the updated codebook in FLAT form, one row per
    (centroid, dimension): ``centroid_id, idx`` (1-based), ``n_members``
    and ``sum_q`` = Σ quantized-component — the un-divided numerator, so
    everything is int64 and summation-order-free (the mean is
    ``sum_q / n_members``; division is left to the caller so the
    rounding policy for negative sums stays explicit — both engines'
    integer division truncates toward zero, measured r5, so either
    spelling is portable; :func:`train_centroids` uses ``div``).
    Callers iterating to convergence reassemble arrays with
    ``array_sort(collect_list(struct(idx, …)))``; the gate keeps the
    flat form because it hashes without array-ordering hazards.

    Plan: broadcast codebook → per-row argmin (groupBy(id) min-struct,
    map-side combinable) → posexplode to (cid, idx) → one agg with
    partial aggregation. The explode is ×dim, but the (cid, idx) group
    count is k·dim — tiny — so the shuffle after partial combine moves
    at most #partitions · k · dim rows regardless of corpus size. At
    100 TB that is the textbook distributed-k-means shape.
    """
    _, assigned = ivf_assign(corpus, centroid_stride, id_col, vec_col)
    flat = assigned.select(
        "centroid_id", F.posexplode("qv").alias("pos", "val")
    )
    return (
        flat.groupBy("centroid_id", (F.col("pos") + 1).alias("idx"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("val").alias("sum_q"),
        )
    )


def train_centroids(
    corpus: DataFrame,
    centroid_stride: int = 25,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means to ``iters`` iterations — :func:`kmeans_step`'s
    assignment+update loop driven to a TRAINED codebook, the input the
    residual IVF-PQ tier was designed for (q101's docstring claims the
    residual variant "earns its place for trained-codebook deployments";
    this function is what lets tools/ann_recall.py MEASURE that claim
    instead of asserting it — see BENCH/ann_recall_clustered.json and
    the pytest floor).

    Seeds are the deterministic ``id % centroid_stride == 0`` rows (the
    q29/q62 convention), every update is integer (means via ``div`` —
    truncation, identical in both engines, measured r5), and ties break
    to the lowest centroid id — so the trained codebook is a pure
    function of the corpus, reproducible anywhere. Centroids that lose
    all members VANISH (k may shrink; standard Lloyd behavior with no
    re-seeding — document upstream if a fixed k matters).

    Returns (centroid_id, cv array<long>) — the explicit-codebook shape
    :func:`assign_to_centroids` / :func:`ivfpq_topk` accept.

    Scale shape per iteration: one broadcast argmin projection over the
    corpus + one (cid, dim)-keyed aggregation whose post-combine shuffle
    moves at most #partitions·k·dim rows (kmeans_step's plan); the
    codebook is localCheckpointed between iterations so lineage stays
    O(1) instead of O(iters) — at 100 TB each iteration is one corpus
    scan, the textbook distributed k-means cost.
    """
    v = corpus.select(
        F.col(id_col).alias("id"), _qvec(F.col(vec_col)).alias("qv")
    )
    cents = v.where(F.col("id") % centroid_stride == 0).select(
        F.col("id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    for _ in range(int(iters)):
        assigned = assign_to_centroids(corpus, cents, id_col, vec_col)
        flat = assigned.select(
            "centroid_id", F.posexplode("qv").alias("pos", "val")
        )
        cents = (
            flat.groupBy("centroid_id", "pos")
            .agg(F.expr("sum(val) div count(1)").alias("mean_q"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "mean_q"))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s["mean_q"]).alias("cv"),
            )
            .localCheckpoint()
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    centroid_stride: int = 25,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest centroids per
    query, exact quantized-dot rank within the probed inverted lists.

    Fully deterministic (codebook + assignment + probe order all integer
    math with id tiebreaks), so unlike classic trained IVF the result is
    oracle-checkable. The candidate join is an equi-join on centroid_id —
    broadcast-able query side, AQE-splittable when a list is hot.
    """
    cents, assigned = ivf_assign(corpus, centroid_stride, id_col, vec_col)

    qv = queries.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("qqv")
    )
    diff2 = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_probe = Window.partitionBy("query_id").orderBy("d2", "centroid_id")
    probes = (
        qv.crossJoin(F.broadcast(cents))
        .select("query_id", "qqv", "centroid_id", diff2.alias("d2"))
        .withColumn("probe_rank", F.row_number().over(w_probe))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "qqv", "centroid_id")
    )
    cands = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _dot_int(F.col("qqv"), F.col("qv")).alias("score"),
        )
        # no dedup needed: each corpus vector has exactly one centroid, and
        # a query probes distinct centroids — (query, neighbor) is unique.
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def portable_planes(n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from md5 parity — computed once
    driver-side in pure Python, embedded as literals in BOTH the Spark plan
    and the DuckDB oracle, so the LSH bucketing is engine-exact."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"plane:{j}:{i}".encode()).digest()[0] & 1
            else -1
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]


def _portable_sign_bits(qv, planes: list[list[int]]) -> F.Column:
    """Bucket id: bit j = [Σ_i c_ji·q_i > 0] over the int64-quantized
    vector — pure integer Column arithmetic."""
    sig = F.lit(0).cast("long")
    for j, row in enumerate(planes):
        coeffs = F.array(*[F.lit(c).cast("long") for c in row])
        proj = F.aggregate(
            F.zip_with(qv, coeffs, lambda x, c: x * c),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.shiftleft(
                F.when(proj > 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                j,
            )
        )
    return sig


def lsh_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe sign-LSH top-k with the PORTABLE plane matrix: the
    same deterministic buckets are derivable in ANSI SQL, so unlike
    ``lsh_topk`` (xxhash64 planes, Spark-only) this variant is
    oracle-checkable end to end. Semantics identical: candidates share the
    query's exact bucket or a Hamming-1 probe bucket; exact quantized-dot
    ranking within candidates."""
    planes = portable_planes(n_bits, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _qvec(F.col(vec_col)).alias("cv"),
    ).withColumn("bucket", _portable_sign_bits(F.col("cv"), planes))
    q0 = queries.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("qv")
    ).withColumn("qsig", _portable_sign_bits(F.col("qv"), planes))
    probes = F.array(
        F.col("qsig"),
        *[F.col("qsig").bitwiseXOR(F.lit(1 << j)) for j in range(n_bits)],
    )
    q = q0.select("query_id", "qv", F.explode(probes).alias("bucket"))
    pairs = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            _dot_int(F.col("qv"), F.col("cv")).alias("score"),
        )
        # no dedup: a corpus row sits in ONE bucket and a query's probe
        # buckets are distinct, so (query, neighbor) pairs are unique
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_band_candidates(
    corpus: DataFrame,
    n_bands: int = 8,
    bits_per_band: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b) unordered candidate pairs that agree on ≥1 sign-LSH band —
    the candidate generator feeding ``cosine_near_dup_pairs(candidates=…)``.

    Banded amplification over the PORTABLE ±1 plane matrix
    (``portable_planes``), so the identical candidate set is derivable in
    ANSI SQL and the composed near-dup pipeline is oracle-checkable end to
    end. Plan shape: signature projection (pure Columns) → explode to
    (band, bucket) → self equi-join on (band, bucket) → min-band filter.

    Dedup without a shuffle: a pair agreeing in k bands would appear k
    times; instead of ``distinct()`` we keep the pair only in its FIRST
    agreeing band — both full signatures ride through the join, so
    "no earlier band agrees" is a pure filter expression (cf. the same
    trick in phash_near_dup_pairs).

    Recall is a banding trade-off, not 1.0: P(candidate) = 1-(1-p^r)^b
    with p = 1 - θ/π. The demo corpus's near-dup knee sits at cosine
    0.4-0.6 (p ≈ 0.63-0.70) — an adversarial regime for sign-LSH — giving
    ~0.75-0.95 recall at the defaults; production near-dup thresholds
    (cosine ≥ 0.8, p ≥ 0.8) amplify far more sharply with wider bands.
    """
    planes = portable_planes(n_bands * bits_per_band, dim)
    mask = (1 << bits_per_band) - 1
    v = corpus.select(
        F.col(id_col).alias("id"), _qvec(F.col(vec_col)).alias("qv")
    ).select("id", _portable_sign_bits(F.col("qv"), planes).alias("sig"))

    def band_of(sig_col, k):
        return F.shiftright(sig_col, k * bits_per_band).bitwiseAND(
            F.lit(mask)
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                band_of(F.col("sig"), k).alias("bucket"),
            )
            for k in range(n_bands)
        ]
    )
    e = v.select("id", "sig", F.explode(bands).alias("bb")).select(
        "id", "sig",
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )
    lhs = e.select(
        F.col("id").alias("a"), F.col("sig").alias("asig"), "band", "bucket"
    )
    rhs = e.select(
        F.col("id").alias("b"), F.col("sig").alias("bsig"), "band", "bucket"
    )
    first_band = F.least(
        *[
            F.when(
                band_of(F.col("asig"), k) == band_of(F.col("bsig"), k),
                F.lit(k),
            ).otherwise(F.lit(n_bands))
            for k in range(n_bands)
        ]
    )
    return (
        lhs.join(rhs, ["band", "bucket"])
        .where((F.col("a") < F.col("b")) & (F.col("band") == first_band))
        .select("a", "b")
    )


_PLANE_SALT = 0x5DEECE66D

# xxHash64 constants (public algorithm, Collet's xxHash; same values as
# Spark's catalyst XXH64 — needed only to MIRROR the engine's plane signs
# driver-side so q24's oracle can reproduce the exact candidate buckets).
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh64_long(value: int, seed: int = 42) -> int:
    """xxHash64 of one 64-bit integer — bit-identical to Spark's
    ``F.xxhash64(<long col>)`` (Catalyst hashes LongType inputs as a
    single 8-byte little-endian block with seed 42). Returns the SIGNED
    int64 Spark reports; pinned against the engine by
    tests/test_operators.py::test_xxhash64_python_mirror_matches_engine."""
    h = (seed + _XXH_P5 + 8) & _U64
    k1 = _rotl64((value & _U64) * _XXH_P2 & _U64, 31) * _XXH_P1 & _U64
    h ^= k1
    h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _U64
    h ^= h >> 33
    h = h * _XXH_P2 & _U64
    h ^= h >> 29
    h = h * _XXH_P3 & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash_planes(n_bits: int, dim: int) -> list[list[int]]:
    """The ±1 hyperplane matrix the ENGINE derives in-plan from
    ``F.xxhash64(i·1000003 + j·7919 + SALT)`` parity, mirrored driver-side
    (pure Python) so the q24 oracle can inline the identical signs as SQL
    literals — the q36/q38 mirrored-candidate-generation pattern applied
    to the xxhash64 plane family."""
    return [
        [
            1
            if _xxh64_long(i * 1_000_003 + j * 7919 + _PLANE_SALT) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]


def _sign_bits(qv, n_bits: int) -> F.Column:
    """LSH signature over the QUANTIZED int64 vector: bit j =
    [Σ_i c(i,j)·qv_i > 0] where c(i,j) ∈ {-1,+1} comes from a
    deterministic integer hash of (i, j) — no RNG state, no driver-side
    plane matrix to broadcast, and (since r4) integer projections, so the
    sum is order-independent and exactly reproducible in the oracle."""
    sig = F.lit(0).cast("long")
    for j in range(n_bits):
        proj = F.aggregate(
            F.zip_with(
                qv,
                F.sequence(F.lit(0), F.size(qv) - 1),
                lambda x, i: x
                * (
                    F.when(
                        F.pmod(
                            F.xxhash64(
                                i * F.lit(1_000_003) + F.lit(j * 7919 + _PLANE_SALT)
                            ),
                            F.lit(2),
                        )
                        == 0,
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(-1).cast("long"))
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.shiftleft(
                F.when(proj > 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                j,
            )
        )
    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the exact signature bucket or a
    Hamming-1 probe bucket (multi-probe LSH); exact quantized scoring +
    window top-k within candidates. Signatures are computed over the
    quantized int64 vector (r4), so buckets AND scores are integer-exact
    and the whole pipeline is mirrored by q24's oracle (xxhash_planes)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _qvec(F.col(vec_col)).alias("cv"),
    ).withColumn("bucket", _sign_bits(F.col("cv"), n_bits))
    probes = F.array(
        F.col("qsig"),
        *[
            F.col("qsig").bitwiseXOR(F.lit(1 << j))
            for j in range(n_bits)
        ],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _qvec(F.col(vec_col)).alias("qv"),
    ).withColumn("qsig", _sign_bits(F.col("qv"), n_bits)).select(
        "query_id", "qv", F.explode(probes).alias("bucket")
    )
    pairs = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            _dot_int(F.col("qv"), F.col("cv")).alias("score"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 8,
    dim: int = 64,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (ADC)
    — the memory-bound tier of the ANN ladder (brute → IVF → sign-LSH →
    PQ). Jégou et al., "Product Quantization for Nearest Neighbor Search"
    (TPAMI 2011), re-expressed as pure Column algebra.

    The ``dim``-dim quantized vector splits into ``m`` subvectors of
    ``dim//m`` components. The codebook is deterministic (corpus rows with
    ``id % centroid_stride == 0``, the q29/q62 convention — no RNG, so the
    whole index is oracle-checkable value-for-value, unlike trained PQ).

    - **Encode** (shuffle-free): the codebook is collapsed to ONE row
      (``array<struct<code_id, subvecs>>``), broadcast, and each corpus
      vector becomes ``m`` int codes via an in-row ``array_min`` argmin of
      integer squared-L2 — a pure projection; the corpus never shuffles.
      At 100 TB each vector is stored as m longs instead of dim floats
      (the 32× compression that makes billion-scale ANN RAM-resident).
    - **ADC score**: each query precomputes per-subspace distance TABLES
      (``array<map<code_id, d2>>``); the broadcast crossJoin then scores a
      candidate with ``m`` map lookups instead of ``dim`` multiplies —
      asymmetric: the query side stays un-quantized, only the corpus is
      coded, which is what keeps PQ recall usable.
    - **Rank**: window top-k per query on (adist asc, neighbor_id).

    Everything is int64 (QUANT=1024 quantization, |d2 per subspace| ≤
    (dim/m)·(2·1024)² ≈ 3.4e7, total < 2^32), so engine and oracle agree
    bit-for-bit. At corpus scale, compose with :func:`ivf_assign` for the
    coarse stage (IVF-PQ): probe lists first, ADC-score within lists.
    """
    coded, qtabs, adist = _pq_parts(
        corpus, queries, m, dim, centroid_stride, id_col, vec_col
    )
    scored = (
        coded.crossJoin(F.broadcast(qtabs))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adist.alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _pq_parts(
    corpus: DataFrame,
    queries: DataFrame,
    m: int,
    dim: int,
    centroid_stride: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame, F.Column]:
    """The shared PQ machinery behind :func:`pq_topk` (flat scan) and
    :func:`ivfpq_topk` (probe-list scan): returns (coded corpus rows
    ``(neighbor_id, codes)``, query ADC tables ``(query_id, qtab)``,
    and the ``adist`` Column scoring a joined (codes, qtab) row)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    seq_m = F.sequence(F.lit(0), F.lit(m - 1))

    def subvecs(qv) -> F.Column:
        # array<array<long>>: the m subvectors of the quantized vector
        return F.transform(
            seq_m, lambda s: F.slice(qv, s * sub + 1, F.lit(sub))
        )

    def d2(a, b) -> F.Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    v = corpus.select(
        F.col(id_col).alias("id"), subvecs(_qvec(F.col(vec_col))).alias("sv")
    )
    # ONE-row codebook: array of (code_id, subvecs) structs, broadcast.
    cbook = (
        v.where(F.col("id") % centroid_stride == 0)
        .select(F.struct(F.col("id").alias("code_id"), "sv").alias("cw"))
        .agg(F.array_sort(F.collect_list("cw")).alias("cbook"))
    )
    coded = (
        v.crossJoin(F.broadcast(cbook))
        .select(
            F.col("id").alias("neighbor_id"),
            F.transform(
                seq_m,
                lambda s: F.array_min(
                    F.transform(
                        F.col("cbook"),
                        lambda cw: F.struct(
                            d2(
                                F.element_at(F.col("sv"), s + 1),
                                F.element_at(cw["sv"], s + 1),
                            ).alias("d2"),
                            cw["code_id"].alias("code_id"),
                        ),
                    )
                )["code_id"],
            ).alias("codes"),
        )
    )
    qtabs = (
        queries.select(
            F.col(id_col).alias("query_id"),
            subvecs(_qvec(F.col(vec_col))).alias("qsv"),
        )
        .crossJoin(F.broadcast(cbook))
        .select(
            "query_id",
            F.transform(
                seq_m,
                lambda s: F.map_from_entries(
                    F.transform(
                        F.col("cbook"),
                        lambda cw: F.struct(
                            cw["code_id"].alias("key"),
                            d2(
                                F.element_at(F.col("qsv"), s + 1),
                                F.element_at(cw["sv"], s + 1),
                            ).alias("value"),
                        ),
                    )
                ),
            ).alias("qtab"),
        )
    )
    adist = F.aggregate(
        seq_m,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("qtab"), s + 1),
            F.element_at(F.col("codes"), s + 1),
        ),
    )
    return coded, qtabs, adist


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    coarse_stride: int = 25,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    pq_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the billion-scale ANN composition (Jégou et al. TPAMI
    2011 §V; the FAISS ``IVFx,PQy`` index) — a COARSE inverted-file
    quantizer (:func:`ivf_assign`) prunes the corpus to ``nprobe``
    probe lists per query, and PQ/ADC (:func:`pq_topk`'s machinery)
    scores only those lists with ``m`` map lookups per candidate.

    ``cents`` (optional) supplies an EXPLICIT coarse codebook
    ``(centroid_id, cv array<long>)`` — e.g. :func:`train_centroids`'s
    Lloyd-trained output — in place of the default deterministic
    ``id % coarse_stride`` seeds; assignment/probing/residuals are
    otherwise identical (q110's stored-quantizer discipline: the
    codebook is an input, never re-derived).

    ``residual=False`` codes the ORIGINAL vectors (IVFFlat-style PQ);
    ``residual=True`` is the classical FAISS composition: each vector is
    coded as its residual v − c(v) w.r.t. its assigned coarse centroid,
    against ONE SHARED residual codebook (the ``id % pq_stride`` rows'
    own residuals — deterministic, like every codebook here). The query
    side pays one ADC table per (query, probed centroid) instead of per
    query — size nprobe × n_queries × m maps, still broadcast-scale.

    Measured honestly, BOTH regimes (BENCH/ann_recall.json,
    BENCH/ann_recall_clustered.json): with data-sampled ``id % stride``
    codebooks the residual tier does NOT beat original-vector coding
    (clustered corpus: 0.27 vs 0.38 recall@10) — sampled corpus rows
    are already data-adaptive, so the classical residual win has
    nothing to reclaim. With a TRAINED coarse codebook
    (:func:`train_centroids`, Lloyd to 8 iterations, ``cents=``) the
    prediction flips exactly as the classical analysis says it should:
    residual 0.53–0.54 vs original-vector 0.36–0.38 on the same corpus
    (r5 — the r4 docstring asserted this regime; now it is measured,
    and pytest-pinned in both directions: residual ≤ flat with sampled
    codebooks, residual > flat with trained ones).

    Both variants keep the repo's determinism discipline (``id %
    stride`` codebooks, integer L2, id tiebreaks), so the q94/q101
    oracles mirror coarse assignment + probes + (residual) codes + ADC
    end to end. Integer bounds: components ∈ [−QUANT, QUANT] →
    residuals ∈ [−2·QUANT, 2·QUANT]; worst subspace d2 ≤
    (dim/m)·(4·QUANT)² ≈ 1.3e8; adist < 2^31 — safely portable.

    Scale shape: encode is the same shuffle-free projection as
    :func:`pq_topk`; the probe join replaces PQ's broadcast crossJoin
    with an equi-join on centroid_id — per query, work drops from
    O(corpus) map-lookups to O(corpus·nprobe/n_centroids), which is
    the whole point of the coarse stage. Hot lists are ordinary skewed
    join keys (AQE-splittable).
    """
    if cents is None:
        cents, assigned = ivf_assign(corpus, coarse_stride, id_col, vec_col)
    else:
        assigned = assign_to_centroids(corpus, cents, id_col, vec_col)
    qv = queries.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("qqv")
    )
    probe_d2 = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_probe = Window.partitionBy("query_id").orderBy("d2", "centroid_id")
    probes = (
        qv.crossJoin(F.broadcast(cents))
        .select("query_id", "centroid_id", probe_d2.alias("d2"))
        .withColumn("probe_rank", F.row_number().over(w_probe))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "centroid_id")
    )
    if residual:
        return _ivfpq_residual(
            cents, assigned, qv, probes, k, m, dim, pq_stride
        )
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .where(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
    )
    coded, qtabs, adist = _pq_parts(
        corpus, queries, m, dim, pq_stride, id_col, vec_col
    )
    scored = (
        cand.join(coded, "neighbor_id")
        .join(F.broadcast(qtabs), "query_id")
        .select("query_id", "neighbor_id", adist.alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _ivfpq_residual(
    cents: DataFrame,
    assigned: DataFrame,
    qv: DataFrame,
    probes: DataFrame,
    k: int,
    m: int,
    dim: int,
    pq_stride: int,
) -> DataFrame:
    """The residual branch of :func:`ivfpq_topk` (see its docstring).

    Structure vs the non-residual path: the coded corpus is built from
    residual subvectors (one broadcast join of ``assigned`` against the
    centroid table), and the ADC tables are keyed by (query_id,
    centroid_id) — a query's distance table depends on WHICH list it is
    probing, because its residual does. Identity pin
    (tests/test_operators.py): with a single coarse centroid the shared
    shift cancels out of every subspace L2, so residual IVF-PQ equals
    flat :func:`pq_topk` row-for-row."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    seq_m = F.sequence(F.lit(0), F.lit(m - 1))

    def subvecs(col) -> F.Column:
        return F.transform(
            seq_m, lambda s: F.slice(col, s * sub + 1, F.lit(sub))
        )

    def d2(a, b) -> F.Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    residual_sv = subvecs(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x - y)
    )
    rsub = assigned.join(F.broadcast(cents), "centroid_id").select(
        "id", "centroid_id", residual_sv.alias("sv")
    )
    cbook = (
        rsub.where(F.col("id") % pq_stride == 0)
        .select(F.struct(F.col("id").alias("code_id"), "sv").alias("cw"))
        .agg(F.array_sort(F.collect_list("cw")).alias("cbook"))
    )
    coded = rsub.crossJoin(F.broadcast(cbook)).select(
        F.col("id").alias("neighbor_id"),
        "centroid_id",
        F.transform(
            seq_m,
            lambda s: F.array_min(
                F.transform(
                    F.col("cbook"),
                    lambda cw: F.struct(
                        d2(
                            F.element_at(F.col("sv"), s + 1),
                            F.element_at(cw["sv"], s + 1),
                        ).alias("d2"),
                        cw["code_id"].alias("code_id"),
                    ),
                )
            )["code_id"],
        ).alias("codes"),
    )
    query_residual_sv = subvecs(
        F.zip_with(F.col("qqv"), F.col("cv"), lambda x, y: x - y)
    )
    qres = (
        probes.join(F.broadcast(cents), "centroid_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "centroid_id", query_residual_sv.alias("qsv"))
    )
    qtabs = qres.crossJoin(F.broadcast(cbook)).select(
        "query_id",
        "centroid_id",
        F.transform(
            seq_m,
            lambda s: F.map_from_entries(
                F.transform(
                    F.col("cbook"),
                    lambda cw: F.struct(
                        cw["code_id"].alias("key"),
                        d2(
                            F.element_at(F.col("qsv"), s + 1),
                            F.element_at(cw["sv"], s + 1),
                        ).alias("value"),
                    ),
                )
            ),
        ).alias("qtab"),
    )
    adist = F.aggregate(
        seq_m,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("qtab"), s + 1),
            F.element_at(F.col("codes"), s + 1),
        ),
    )
    scored = (
        coded.join(F.broadcast(probes), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qtabs), ["query_id", "centroid_id"])
        .select("query_id", "neighbor_id", adist.alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def clustered_embeddings(
    spark,
    n: int = 2000,
    dim: int = 64,
    n_centers: int = 64,
    jitter_milli: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic mixture-of-centers embedding corpus — the STRUCTURED
    counterpart of the driver's near-random embeddings table, for recall
    measurement that can actually show the ANN ladder's value
    (tools/ann_recall.py → BENCH/ann_recall_clustered.json; VERDICT r3
    item 6: near-random vectors are ANN's worst case, so their recall
    floors can't demonstrate the index).

    Every component is a pure function of (id, dimension) through
    xxhash64 — no RNG state, reproducible anywhere Spark runs:
    ``center_id = xxh(id) mod n_centers``; component d =
    ``u(center_id, d) + u(id, d) · jitter_milli/1000`` with u ∈ [−1, 1)
    uniform from the hash. With the default 5% jitter, intra-cluster
    squared distance ≪ inter-center distance, so the true top-k is
    almost surely intra-cluster — the regime real embedding corpora
    (near-duplicate web/image data) live in."""
    seq_d = F.sequence(F.lit(0), F.lit(dim - 1))

    def u(*cols) -> F.Column:
        return (
            (F.pmod(F.xxhash64(*cols), F.lit(20000)) - 10000) / 10000.0
        )

    cid = F.pmod(F.xxhash64(F.col("id"), F.lit("center")), F.lit(n_centers))
    comp = lambda d: (  # noqa: E731
        u(cid, d, F.lit("c")) + u(F.col("id"), d, F.lit("j"))
        * (jitter_milli / 1000.0)
    )
    return spark.range(n).select(
        F.col("id").alias(id_col),
        F.transform(seq_d, lambda d: comp(d).cast("float")).alias(vec_col),
    )


def pq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int = 25,
    m: int = 8,
    dim: int = 64,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval: PQ-ADC shortlist → exact re-rank (the FAISS
    ``IndexRefineFlat`` pattern; Jégou et al. TPAMI 2011 §V-E re-ranking).

    Stage 1 scans only the COMPRESSED codes (m int64 codes per vector —
    the representation that keeps a 10^12-vector index RAM-resident) and
    keeps a ``shortlist`` of candidates per query by asymmetric distance.
    Stage 2 fetches the ORIGINAL vectors of just those candidates
    (n_queries × shortlist rows — the shortlist is broadcast INTO the
    corpus scan, so the full-precision column is read once, filtered by
    the broadcast hash join, and never shuffled) and re-ranks by exact
    integer squared-L2.

    Refinement dominates raw PQ by construction: every true neighbor that
    ADC ranks anywhere inside the shortlist is restored to its exact-metric
    position, so recall@k(refine, shortlist≥k) ≥ recall@k(pq) — pinned on
    the clustered corpus by pytest and measured per-tier in
    BENCH/ann_recall*.json. All-integer (QUANT=1024), so the q106 oracle
    mirrors both stages end-to-end.
    """
    if shortlist < k:
        raise ValueError(f"shortlist={shortlist} must be >= k={k}")
    short = pq_topk(
        corpus, queries, shortlist, m, dim, centroid_stride, id_col, vec_col
    ).select("query_id", "neighbor_id")

    qv = queries.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _qvec(F.col(vec_col)).alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    refined = (
        cv.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def brute_topk_l2(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, d2, rank): exact integer-quantized
    squared-L2 top-k, excluding self; ties broken by neighbor_id. The
    ground truth for the L2-metric ANN tiers (PQ/ADC) the way
    :func:`brute_topk` is for the dot-product tiers — recall of an
    approximate method is only meaningful against ITS OWN metric's
    exact baseline (tools/ann_recall.py)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _qvec(F.col(vec_col)).alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivf_index_build(
    corpus: DataFrame,
    path: str,
    centroid_stride: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF index as STORAGE: the inverted lists are a
    snapshot table (sources/tables.py) at ``<path>/lists`` partitioned
    by ``centroid_id`` — one manifest partition per list, the layout
    that lets a probe read exactly its lists' files — and the codebook
    is a small sibling parquet table at ``<path>/centroids``. Centroids
    derive from THIS corpus (id % stride == 0, the q29 deterministic
    convention) unless an explicit ``centroids`` table
    (centroid_id, cv) is given — the rebuild-with-the-existing-quantizer
    path (pytest pins append-maintained ≡ such a rebuild). Either way
    the codebook is the index's immutable quantizer from then on.
    """
    import os as _os

    from osmcha_spark.sources import tables as T

    if centroids is None:
        cents, assigned = ivf_assign(
            corpus, centroid_stride, id_col, vec_col
        )
    else:
        cents = centroids.select("centroid_id", "cv")
        assigned = assign_to_centroids(corpus, cents, id_col, vec_col)
    T.snapshot_create(assigned, _os.path.join(path, "lists"),
                      partition_col="centroid_id")
    cents.write.parquet(_os.path.join(path, "centroids"))


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append-only index maintenance WITHOUT a rebuild: assign the new
    vectors against the STORED centroids — the quantizer is immutable
    after build; re-deriving it from the grown corpus would silently
    shift every existing list — then merge them into the lists table
    with :func:`~osmcha_spark.sources.tables.snapshot_upsert`, one
    atomic commit that rewrites ONLY the inverted lists that actually
    receive vectors and carries every other list's files by reference
    (q58's byte-identity discipline, asserted by q110). At 10^12
    vectors a minutely ingest touches a handful of lists; the index
    never pays a full rewrite.
    """
    import os as _os

    from osmcha_spark.sources import tables as T

    spark = new_vectors.sparkSession
    cents = spark.read.parquet(_os.path.join(path, "centroids"))
    assigned = assign_to_centroids(new_vectors, cents, id_col, vec_col)
    T.snapshot_upsert(assigned, _os.path.join(path, "lists"), key="id")


def ivf_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve top-k from the STORED index: probe the ``nprobe`` nearest
    stored centroids per query, then scan ONLY those lists — the probed
    centroid ids are collected (n_queries × nprobe, metadata-scale) and
    the lists table's manifest selects exactly their files
    (``read_snapshot(partitions=probed)``) before Spark plans the scan
    (pinned by tests/test_plans.py via the scan's input files). Ranking
    matches :func:`ivf_topk`: exact quantized-dot within the probed
    lists, descending, ties to the lowest neighbor id, self excluded.
    """
    import os as _os

    from osmcha_spark.sources import tables as T

    cents = spark.read.parquet(_os.path.join(path, "centroids"))
    qv = queries.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("qqv")
    )
    diff2 = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_probe = Window.partitionBy("query_id").orderBy("d2", "centroid_id")
    probes = (
        qv.crossJoin(F.broadcast(cents))
        .select("query_id", "qqv", "centroid_id", diff2.alias("d2"))
        .withColumn("probe_rank", F.row_number().over(w_probe))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "qqv", "centroid_id")
    )
    probed_cids = sorted(
        {r.centroid_id for r in probes.select("centroid_id").collect()}
    )
    lists = T.read_snapshot(spark, _os.path.join(path, "lists"),
                            partitions=probed_cids)
    cands = (
        lists.join(F.broadcast(probes), "centroid_id")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _dot_int(F.col("qqv"), F.col("qv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
