"""Training-data curation operators — the scrub / filter / pack / and
decontaminate stages a large-scale LLM corpus pipeline runs between raw
text and the trainer. All pure Column expressions (JVM, codegen,
oracle-expressible); no Python crossing anywhere.

- **scrub_pii** — regexp normalization of emails / URLs / phone numbers
  to typed placeholder tokens, plus per-category hit counts (audit
  surface). The patterns are deliberately in the Java∩RE2 regex subset
  so the DuckDB oracle runs the identical expressions.
- **repetition_stats** — the Gopher-style repetition quality signal
  (Rae et al. 2021, §A1.1 "repetitious text"): fraction of tokens
  accounted for by the single most-frequent 2-gram, as an exact integer
  per-mille so engine ≡ oracle bit-for-bit.
- **pack_chunks** — sequence packing: documents are concatenated in a
  deterministic content-addressed order within hash shards and cut into
  fixed token-budget chunks (the GPT-style pretraining layout). Emits
  each document's global token offset and the chunk span it lands in.
- **decontaminate** — eval-set containment scan: k-gram token shingles
  of every training doc equi-joined against the eval set's shingles;
  pairs sharing ≥ ``min_shared`` distinct shingles are flagged. This is
  benchmark-decontamination (the n-gram overlap check every published
  model card describes), not symmetric near-dup — q09/q22 cover that.

Scale shapes (100 TB):
- scrub_pii / repetition base are pure projections (no shuffle; the
  bigram count is explode → two partial-agg groupBys on doc_id-prefixed
  keys — map-side combine bounds the shuffle by distinct bigrams/doc).
- pack_chunks is ONE shuffle (window over hash shards); shard count is
  the parallelism knob and the order key is content-addressed, so the
  layout is rerun/cluster-size stable — rescaling the cluster does not
  re-deal the corpus.
- decontaminate explodes distinct shingles per side and equi-joins on
  the shingle hash: the eval side is tiny in practice (benchmarks, not
  corpora) so Spark broadcasts it; cost is O(train shingles). A df cap
  on the eval side (stop-shingle guard, as jaccard_pairs) applies if an
  eval doc is pathological.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osmcha_spark.operators.dedup import md5_long_col

# Java∩RE2 subset: char classes, alternation-free, bounded quantifiers
# only where both engines agree. DuckDB needs the 'g' flag for
# replace-all; Spark's regexp_replace is always global.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[A-Za-z0-9./?=&_%-]+"
PHONE_RE = "\\+[0-9][0-9-]{5,}[0-9]"


def scrub_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_emails, n_urls, n_phones, scrubbed): replace every
    email / URL / phone-number match with ``<EMAIL>`` / ``<URL>`` /
    ``<PHONE>`` and count the hits per category on the ORIGINAL text.

    Replacement order matters and is part of the contract: emails first
    (so the URL pattern never eats a mailto-adjacent form), then URLs,
    then phones. Counts are computed on the input text, so a URL that
    contains a phone-shaped path segment is counted once per category —
    the audit counts answer "how much PII did the scrubber see", not
    "how many tokens did it emit"."""
    text = F.col(text_col)
    scrubbed = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, URL_RE, "<URL>")
    scrubbed = F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(text, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


def _space_tokens(text: Column) -> Column:
    """Single-space split of the trimmed text — the ORACLE-EXACT
    tokenizer (DuckDB ``string_split(trim(text), ' ')``), same variant
    tfidf_topk uses; ``text.tokens_col`` (``\\s+``) is the engine-side
    analysis tokenizer. Do not unify (see tokens_col docstring)."""
    return F.split(F.trim(text), " ")


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, top_bigram_n, rep2_permille): the most
    frequent token 2-gram's share of the document, as the exact integer
    ``(top_bigram_n * 2 * 1000) div n_tokens`` (Gopher drops documents
    above ~200‰). Documents with < 2 tokens emit (n, 0, 0).

    Only the COUNT of the winning bigram is emitted, never the bigram
    itself, so max-count ties cannot make the result order-dependent."""
    toks = _space_tokens(F.col(text_col))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.explode_outer(bigrams).alias("bigram"),
    )
    per_bigram = exploded.groupBy("doc_id", "n_tokens", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = per_bigram.groupBy("doc_id", "n_tokens").agg(
        F.max(
            F.when(F.col("bigram").isNotNull(), F.col("c")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("top_bigram_n")
    )
    return top.select(
        "doc_id",
        "n_tokens",
        "top_bigram_n",
        F.when(F.col("n_tokens") > 0, F.expr("(top_bigram_n * 2000) div n_tokens"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rep2_permille"),
    )


def pack_chunks(
    docs: DataFrame,
    budget: int,
    n_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack",
) -> DataFrame:
    """Sequence packing: concatenate documents in content-addressed
    order within ``n_shards`` hash shards and cut the token stream into
    ``budget``-token chunks. Emits per document::

        (doc_id, shard, n_tokens, token_start, first_chunk, last_chunk)

    where ``token_start`` is the document's offset in its shard's
    stream, ``first_chunk = token_start div budget`` and ``last_chunk =
    (token_start + n_tokens - 1) div budget`` — a document spanning a
    boundary is split across chunks, exactly as a pretraining loader
    does. The order key is ``(md5(doc_id, salt), doc_id)``: a pure
    function of row identity, so the layout is independent of input
    partitioning and cluster size, and reruns agree row-for-row.

    ONE shuffle (the per-shard window). Token counts use the
    oracle-exact single-space tokenizer."""
    toks = _space_tokens(F.col(text_col))
    key = md5_long_col(
        F.concat(F.col(id_col).cast("string"), F.lit(salt))
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        (key % F.lit(int(n_shards))).alias("shard"),
        key.alias("_k"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_k").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).cast("long")
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        start.alias("token_start"),
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        "token_start",
        F.expr(f"token_start div {int(budget)}").cast("long").alias("first_chunk"),
        F.expr(
            f"(token_start + n_tokens - 1) div {int(budget)}"
        ).cast("long").alias("last_chunk"),
    )


def shingle_hashes(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_id: str = "doc_id",
) -> DataFrame:
    """(out_id, h): DISTINCT 60-bit hashes of the document's k-gram
    token shingles, exploded. Documents with < k tokens emit nothing.
    The hash is md5-prefix of the space-joined shingle string — both
    sides of a decontamination join use the same function, so a shared
    string always collides; a FALSE collision (two different shingles,
    one 60-bit hash) perturbs a count with probability ~2^-60 per pair
    and is accepted (document-level thresholding absorbs it)."""
    toks = _space_tokens(F.col(text_col))
    sh = F.when(
        F.size(toks) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: md5_long_col(F.concat_ws(" ", F.slice(toks, i, k))),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return docs.select(
        F.col(id_col).alias(out_id), F.explode(sh).alias("h")
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    k: int = 8,
    min_shared: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """(train_id, eval_id, n_shared): training documents sharing ≥
    ``min_shared`` DISTINCT k-gram token shingles with an eval-set
    document — the benchmark-contamination check. Asymmetric by design:
    a short eval prompt fully contained in a long training doc scores
    its full shingle count, where Jaccard (q09) would dilute it to
    near-zero.

    Shape: distinct-shingle explode on both sides, equi-join on the
    60-bit shingle hash, count per pair, threshold. The eval side is
    broadcast (benchmarks are small); train-side cost is linear in
    corpus shingles. At 100 TB the join ships only eval-matching
    shingles — everything else dies at the broadcast-hash probe."""
    tr = shingle_hashes(train, k, text_col=text_col, out_id="train_id")
    ev = shingle_hashes(eval_set, k, text_col=text_col, out_id="eval_id")
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(int(min_shared)))
    )


def embed_decontaminate(
    corpus: DataFrame,
    refs: DataFrame,
    threshold_num: int,
    threshold_den: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic sibling
    of :func:`decontaminate` (which matches verbatim shingles): corpus
    vectors whose cosine against ANY reference-set vector reaches
    ``threshold_num/threshold_den`` are flagged as eval-contaminated,
    catching paraphrases the n-gram probe can't. Output (one row per
    FLAGGED corpus vector): ``(id, n_hits, max_dot)``.

    The threshold test is the q23 integer rule — ``dot > 0 ∧ den²·dot²
    ≥ num²·‖c‖²·‖r‖²`` on QUANT-quantized int64 vectors — so the
    decision (and max_dot itself) is bit-identical in any engine, no
    float boundary cases.

    Scale shape: the benchmark set is small BY DEFINITION (it's an eval
    suite), so it broadcasts; the corpus streams through one projection
    + broadcast nested-loop over ~hundreds of refs per row, then a
    map-side-combined groupBy(id). No corpus shuffle on data size. At
    extreme ref counts, pre-prune with sign-LSH bands
    (similarity.py:lsh_band_candidates) and pass the survivors here.
    """
    from osmcha_spark.operators.similarity import _dot_int, _qvec

    c = corpus.select(
        F.col(id_col).alias("id"), _qvec(F.col(vec_col)).alias("cv")
    )
    r = refs.select(
        F.col(id_col).alias("rid"), _qvec(F.col(vec_col)).alias("rv")
    )
    n2 = lambda col: _dot_int(F.col(col), F.col(col))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    pairs = (
        c.crossJoin(F.broadcast(r))
        .select(
            "id",
            _dot_int(F.col("cv"), F.col("rv")).alias("dot"),
            n2("cv").alias("c2"),
            n2("rv").alias("r2"),
        )
        .where(
            (F.col("dot") > 0)
            & (F.lit(den2) * F.col("dot") * F.col("dot")
               >= F.lit(num2) * F.col("c2") * F.col("r2"))
        )
    )
    return pairs.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.max("dot").alias("max_dot"),
    )


def mad_outliers(
    df: DataFrame,
    key: str,
    cents_col: str,
    k: int = 5,
) -> DataFrame:
    """Robust per-group outlier flags — median/MAD, not mean/stddev, so
    the contaminated tail can't inflate its own acceptance band (the
    curation step that drops corrupt numeric rows before training).
    Emits ONLY the outliers: ``(key, <cents_col>, med_milli, mad_milli)``
    rows where ``|x·1000 − med_milli| > k · mad_milli``.

    Everything is exact integer millis: medians interpolate at worst to
    .5 over int cents, so floor(×1000) is exact and both engines make
    bit-identical flag decisions (q46's discipline). When more than
    half a group is one value, MAD = 0 and every other value flags —
    the standard robust-stats degeneracy, intentionally kept.

    Plan: two grouped percentile aggregations + two broadcast joins of
    the (small) per-group stats back onto the fact — the fact itself
    never shuffles. Spark's exact ``percentile`` buffers a group's
    values in the aggregation state, which is fine for bounded groups;
    at extreme per-group cardinality swap each stage for the bucketed
    selection in operators/quantiles.py:grouped_order_statistics (q99),
    which never materializes a group.
    """
    med = df.groupBy(key).agg(
        F.floor(F.percentile(cents_col, F.lit(0.5)) * 1000)
        .alias("med_milli")
    )
    with_dev = df.join(F.broadcast(med), key).withColumn(
        "__dev_milli",
        F.abs(F.col(cents_col) * 1000 - F.col("med_milli")),
    )
    mad = with_dev.groupBy(key).agg(
        F.floor(F.percentile("__dev_milli", F.lit(0.5))).alias("mad_milli")
    )
    return (
        with_dev.join(F.broadcast(mad), key)
        .where(F.col("__dev_milli") > F.lit(int(k)) * F.col("mad_milli"))
        .drop("__dev_milli")
    )


def semdedup(
    emb: DataFrame,
    threshold_num: int,
    threshold_den: int,
    cents: DataFrame | None = None,
    centroid_stride: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication with k-means clusters as the candidate generator —
    the web-scale regime where LSH bands (q38) are replaced by the
    coarse quantizer the ANN index already maintains. Returns one row
    per input vector: ``(id, centroid_id, kept)`` with ``kept = 0`` iff
    an EARLIER vector (lower id) in the SAME cluster reaches cosine
    ``threshold_num/threshold_den`` — the corpus-wide keep-first
    discipline of :func:`~osmcha_spark.operators.dedup.remove_shared_spans`
    applied to embedding space. (The paper keeps the member farthest
    from the centroid; keep-first is the deterministic, engine-
    mirrorable variant — same kept-set SIZE per duplicate group, stable
    under re-runs, and the choice is documented here rather than
    hidden.)

    The threshold test is the q23 integer rule — ``dot > 0 ∧ den²·dot²
    ≥ num²·‖a‖²·‖b‖²`` on QUANT-quantized int64 vectors — bit-identical
    in any engine. With dim ≤ 64, |x| ≤ 1 and single-digit den the
    products stay far below 2^62 (the repo's oracle overflow contract).

    ``cents`` given: assign against that (trained or stored) codebook —
    SemDeDup composed with q62/train_centroids or a q110 stored index.
    ``cents=None``: the deterministic stride codebook
    (:func:`~osmcha_spark.operators.similarity.ivf_assign`).

    Scale shape: this is the ENTIRE point of the operator — candidate
    pairs exist only WITHIN a cluster, so the self-join is an equi-join
    on ``centroid_id`` whose work is Σ|cluster|², controlled by k
    (pick k ∝ N / target-cluster-size; the paper uses 50k clusters for
    LAION). The codebook broadcasts; the corpus shuffles once on
    centroid_id; AQE skew-join splits hot clusters, and a pathological
    mega-cluster can be pre-split by one extra LSH band on the same
    quantized vectors (q38's generator) without changing the contract.
    No global pair enumeration anywhere.
    """
    from osmcha_spark.operators.similarity import (
        _dot_int, assign_to_centroids, ivf_assign)

    if cents is None:
        _c, assigned = ivf_assign(emb, centroid_stride, id_col, vec_col)
    else:
        assigned = assign_to_centroids(emb, cents, id_col, vec_col)
    n2 = _dot_int(F.col("qv"), F.col("qv"))
    sides = assigned.select("id", "centroid_id", "qv", n2.alias("n2"))
    a = sides.select(
        F.col("id").alias("a"), "centroid_id",
        F.col("qv").alias("av"), F.col("n2").alias("na2"),
    )
    b = sides.select(
        F.col("id").alias("b"), "centroid_id",
        F.col("qv").alias("bv"), F.col("n2").alias("nb2"),
    )
    dot = _dot_int(F.col("av"), F.col("bv"))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    dropped = (
        a.join(b, "centroid_id")
        .where(F.col("a") < F.col("b"))
        .select("b", dot.alias("dot"), "na2", "nb2")
        .where(
            (F.col("dot") > 0)
            & (F.lit(den2) * F.col("dot") * F.col("dot")
               >= F.lit(num2) * F.col("na2") * F.col("nb2"))
        )
        .select(F.col("b").alias("id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        assigned.join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "centroid_id",
            F.when(F.col("__dup"), F.lit(0)).otherwise(F.lit(1))
            .cast("int").alias("kept"),
        )
    )


def curation_funnel(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int,
    eval_set: DataFrame,
    rates: DataFrame,
    k: int = 8,
    min_shared: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """The end-to-end LLM-curation funnel as ONE auditable frame: every
    document gets a flag per stage — quality (hashed-ngram linear
    classifier, :func:`~osmcha_spark.operators.text.hashed_ngram_score`),
    exact dedup (content-hash representative,
    :func:`~osmcha_spark.operators.dedup.exact_dedup`), benchmark
    decontamination (:func:`decontaminate`), and domain-mix sampling
    (:func:`~osmcha_spark.operators.sampling.mix_sample`) — plus the
    conjunction. Emitting FLAGS instead of filtering is deliberate:
    the funnel report (per-stage survival, stage overlap, "what did I
    lose and to which gate") is the artifact every curation run has to
    ship alongside the cleaned corpus, and the kept subset is a
    ``WHERE kept = 1`` away.

    Output: ``(doc_id, domain, q_kept, dup_kept, decon_kept, mix_kept,
    kept)``, one row per input document. ``dup_kept`` keeps the
    smallest doc_id of each exact-text group; ``decon_kept = 0`` iff
    the doc shares ≥ min_shared distinct k-shingles with ANY eval doc.

    Scale shape: each stage keeps its own documented plan (broadcast
    weight table, one content-hash groupBy, broadcast eval shingles,
    broadcast rates); the funnel itself only adds doc_id-keyed joins of
    doc-sized flag frames — co-partitioned after the first exchange,
    and the conjunction never materializes an intermediate corpus.
    """
    from osmcha_spark.operators.dedup import exact_dedup
    from osmcha_spark.operators.sampling import mix_sample
    from osmcha_spark.operators.text import hashed_ngram_score

    scored = hashed_ngram_score(
        docs, weights, n_buckets, text_col=text_col, id_col=id_col
    ).select("doc_id", F.col("kept").alias("q_kept"))
    reps = exact_dedup(docs, text_col=text_col, id_col=id_col).select(
        F.col("rep_id").alias("doc_id"), F.lit(1).alias("__rep")
    )
    contaminated = (
        decontaminate(docs, eval_set, k=k, min_shared=min_shared,
                      text_col=text_col)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
        .withColumn("__cont", F.lit(True))
    )
    mixed = mix_sample(
        docs, rates, domain_col=domain_col, id_col=id_col
    ).select(
        F.col(id_col).alias("doc_id"), F.col(domain_col),
        F.col("kept").alias("mix_kept"),
    )
    flags = (
        mixed.join(scored, "doc_id")
        .join(reps, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            domain_col,
            "q_kept",
            F.coalesce(F.col("__rep"), F.lit(0)).cast("int")
            .alias("dup_kept"),
            F.when(F.col("__cont"), F.lit(0)).otherwise(F.lit(1))
            .cast("int").alias("decon_kept"),
            "mix_kept",
        )
    )
    return flags.withColumn(
        "kept",
        (F.col("q_kept") * F.col("dup_kept") * F.col("decon_kept")
         * F.col("mix_kept")).cast("int"),
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """(doc_id, n_lines, n_removed, text) — corpus-frequency line
    dedup, the RefinedWeb/Falcon curation rung between q126's shared-
    SPAN removal and whole-doc dedup: a line occurring VERBATIM in
    ``min_df`` or more DISTINCT documents is boilerplate (nav bars,
    cookie banners, license headers) and is deleted from EVERY
    document — no keeper, unlike span dedup, because the line is
    template, not content. Empty lines are never counted as
    boilerplate (they carry formatting, not duplication signal) and
    survive untouched.

    Plan: posexplode to (doc, pos, line); lines hash to int64 map-side
    (q120's digest-before-shuffle rule — the shuffle key is 8 bytes,
    never the line); TWO map-side-combined aggregations compute exact
    distinct-doc counts ((hash, doc) first, then hash); the boilerplate
    hash set joins back as an ordinary equi-join (it is corpus-sized in
    the worst case — never blindly broadcast); surviving lines
    re-assemble per doc from the sorted (pos, line) structs. Θ(lines)
    rows through each exchange, no all-pairs anywhere, same scale shape
    as remove_shared_spans.
    """
    text = F.col(text_col)
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(text, F.lit(delim), -1)).alias(
            "pos", "line"),
    )
    hashed = lines.withColumn("lh", md5_long_col(F.col("line")))
    per_doc = hashed.where(F.col("line") != "") \
        .select("lh", "doc_id").distinct()
    boiler = (
        per_doc.groupBy("lh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= int(min_df))
        .select("lh", F.lit(True).alias("__boiler"))
    )
    flagged = hashed.join(boiler, "lh", "left")
    kept = flagged.where(F.col("__boiler").isNull())
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "line"))
                ),
                lambda s: s["line"],
            ),
            delim,
        ).alias("text"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines")
             - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long").alias("n_removed"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
    )


def calibration_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    width: int,
) -> DataFrame:
    """Reliability / calibration table for an integer-scored classifier
    (the diagram a quality-filter deployment reads before picking its
    threshold — Niculescu-Mizil & Caruana 2005's binning, integerized):
    rows band into ``floor(score / width)`` buckets — FLOOR, not
    truncate: classifier scores go NEGATIVE, so the band expression is
    the R119 floor-div idiom ``(s − pmod(s, w)) div w``, never bare
    ``div`` — and each band reports exact ``(n, n_pos, min_score,
    max_score)``. The empirical positive rate is ``n_pos/n``, divided
    at the edge (the rational-parts discipline); a well-calibrated
    score has it rising monotonically with the band.

    Scale shape: ONE map-side-combined groupBy on the banded score —
    the table is ≤ score-range/width rows at any corpus size; nothing
    else touches the data.
    """
    w = int(width)
    s = F.col(score_col)
    band = F.call_function("div", s - F.pmod(s, F.lit(w)), F.lit(w))
    return (
        df.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(label_col).cast("long")).cast("long")
            .alias("n_pos"),
            F.min(s).cast("long").alias("min_score"),
            F.max(s).cast("long").alias("max_score"),
        )
    )
