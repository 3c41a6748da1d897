"""Incremental upsert: last-writer-wins merge of a re-analysis batch into
a prior snapshot — the reference's real update pattern (changesets get
re-fetched and re-scored as they are edited; osmcha-django overwrites the
stored verdict row) expressed as a set operation.

Scale shape (100 TB): ONE shuffle — the anti-join on the key — plus a
union that is a pure plan concatenation. On partitioned storage the same
merge runs per affected partition with dynamic partition overwrite
(:func:`upsert_partitioned`): a minutely replication batch rewrites only
the partitions it touches — at table scale the WRITE is the merge cost,
and bounding it to touched partitions is what makes minutely merges into
a 100 TB snapshot affordable. Table formats (Iceberg/Delta MERGE INTO)
compile to this exact join + partition-scoped-overwrite shape underneath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert(
    prior: DataFrame,
    updates: DataFrame,
    key: str,
    version_col: str | None = None,
) -> DataFrame:
    """Rows in ``updates`` replace same-``key`` rows in ``prior``; all
    other prior rows pass through. Schemas must match by name.

    PRECONDITION (without ``version_col``): ``updates`` must be key-unique
    — with duplicate keys in a single batch, EVERY copy survives the union
    (last-writer-wins is between batches, not within one; ADVICE r2), and
    an update row replaces the prior row unconditionally (the replay
    contract is then "batches re-apply in order", which Structured
    Streaming's offset log guarantees).

    With ``version_col`` the LWW is UNCONDITIONAL (r4, VERDICT item 9):
    per key, the highest-``version_col`` row across the batch AND the
    prior snapshot wins (version ties prefer the update row; exact
    duplicate rows tie arbitrarily). That makes replays idempotent even
    out of order — a stale batch re-applied after a newer write cannot
    regress the table — and it is ONE shuffle (max-by over the tagged
    union) where the untagged path pays the anti-join shuffle."""
    if version_col is not None:
        others = [c for c in updates.columns if c != key]
        tagged = updates.select(
            key, *others, F.lit(1).alias("_src")
        ).unionByName(prior.select(key, *others, F.lit(0).alias("_src")))
        return (
            tagged.groupBy(key)
            .agg(
                F.max_by(
                    F.struct(*others),
                    F.struct(F.col(version_col), F.col("_src")),
                ).alias("_row")
            )
            .select(key, "_row.*")
        )
    keep = prior.join(updates.select(key), key, "left_anti")
    return updates.unionByName(keep)


def upsert_partitioned(
    updates: DataFrame,
    path: str,
    key: str,
    partition_col: str,
    version_col: str | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Merge ``updates`` into the partitioned parquet snapshot at ``path``,
    rewriting ONLY the partitions the batch touches (the write path the
    module docstring promises — dynamic partition overwrite made real).

    Plan: (1) restrict the prior snapshot to affected partitions with a
    literal ``IN`` filter on ``partition_col`` built from the batch's
    distinct partition values — a metadata-scale collect (the operator is
    already an action: it writes), and unlike a semi-join it GUARANTEES
    partition pruning in the scan (``PartitionFilters: part IN (…)``,
    pinned by tests/test_plans.py; measured: the bare semi-join form gets
    no dynamic pruning locally), so untouched partitions are never READ;
    (2) the same anti-join + union merge as :func:`upsert`; (3) write
    with ``partitionOverwriteMode=dynamic``, which replaces exactly the
    partitions present in the merged frame and leaves every other
    partition's files byte-untouched (gated by q58: untouched partition
    files are asserted byte-identical across the merge).

    The merged frame is checkpointed before the write because it reads
    from the same files the write replaces (Spark otherwise refuses the
    self-overwrite, and lazily re-reading mid-overwrite would corrupt).
    Default is ``localCheckpoint`` (executor-local, fastest); pass
    ``checkpoint_dir`` for a reliable checkpoint on shared storage — same
    durability tradeoff as knn_join_adaptive. The checkpoint is bounded:
    it holds only the AFFECTED partitions' rows, not the table.

    ``updates`` must carry ``partition_col`` (derive it the same way the
    snapshot writer did); key-uniqueness per the :func:`upsert`
    precondition, enforceable via ``version_col``.
    """
    spark = updates.sparkSession
    prior = spark.read.parquet(path)
    affected_vals = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    prior_affected = prior.where(F.col(partition_col).isin(affected_vals))
    merged = upsert(prior_affected, updates, key, version_col=version_col)
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        merged = merged.checkpoint()
    else:
        merged = merged.localCheckpoint()
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change feed between two snapshots — the CDC primitive that turns
    "rewrite the corpus nightly" into "ship only what moved": rows in
    ``new`` but not ``old`` are ``added``, rows gone from ``old`` are
    ``removed``, rows whose ``compare_cols`` differ are ``changed``;
    unchanged rows are NOT emitted (the feed, not the table).

    Comparison is null-safe (``<=>``): a column flipping between NULL
    and a value counts as a change, NULL == NULL does not — the
    semantics a downstream MERGE consumer expects.

    Scale shape (100 TB): ONE full-outer shuffled equi-join on the key
    — both snapshots exchange once, the status projection is free. The
    output is typically ≪ either snapshot (that's the point), so the
    downstream upsert (:func:`upsert` / :func:`upsert_partitioned`)
    runs on the delta, and with both snapshots stored bucketed on the
    key (operators/bucketed.py) even the one exchange disappears.

    PRECONDITION: both snapshots key-unique (snapshots, not logs —
    collapse logs first with :func:`~osmcha_spark.operators.events.
    scd2_history` or :func:`upsert`'s version_col mode).

    Output: key_cols + ``change`` ('added' | 'removed' | 'changed').
    Reference counterpart: osmcha-django's re-fetch loop detects nothing
    — it overwrites unconditionally; the diff is what a 100-TB pipeline
    needs instead (SURVEY §2.11).
    """
    cmp_cols = compare_cols or [
        c for c in new.columns if c in set(old.columns) - set(key_cols)
    ]
    o = old.select(
        *key_cols,
        F.lit(1).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in cmp_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(1).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in cmp_cols],
    )
    j = o.join(n, key_cols, "full_outer")
    differs = F.lit(False)
    for c in cmp_cols:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    return (
        j.select(*key_cols, status.alias("change"))
        .where(F.col("change").isNotNull())
    )


def _partition_files(path: str, partition_col: str) -> dict[str, list]:
    """Driver-side metadata listing: partition-value string → list of
    (file_path, bytes) for every data file in its ``part=val`` dir.
    Local-FS walk here; on a cluster the same listing comes from the
    Hadoop FileSystem API (or the table format's manifest) — either way
    it is O(#files) METADATA, never data."""
    import os as _os

    out: dict[str, list] = {}
    prefix = f"{partition_col}="
    for root, _dirs, files in _os.walk(path):
        base = _os.path.basename(root)
        if not base.startswith(prefix):
            continue
        val = base[len(prefix):]
        for fn in files:
            if fn.endswith(".parquet"):
                p = _os.path.join(root, fn)
                out.setdefault(val, []).append((p, _os.path.getsize(p)))
    return out


def compact_partitioned(
    spark,
    path: str,
    partition_col: str,
    target_bytes: int = 128 * 1024 * 1024,
    checkpoint_dir: str | None = None,
) -> dict:
    """Small-file compaction with bounded rewrites — the storage
    maintenance that keeps a streaming-ingested table scannable: minutely
    micro-batches (streaming/ingest.py) each append a file per partition,
    and a month later every scan pays thousands-of-files listing + open
    overhead per partition. Compaction bin-packs each fragmented
    partition back to ``ceil(partition_bytes / target_bytes)`` files.

    Bounded exactly like :func:`upsert_partitioned`: a partition is
    AFFECTED only when its file count exceeds its bin count AND at least
    two of its files are genuinely SMALL (< target/2 — the same
    small-file threshold family as Iceberg's binpack rewriter). The
    small-file guard is what makes compaction IDEMPOTENT: a written bin
    averages ``total/ceil(total/target) ≥ target/2`` by arithmetic, so
    freshly compacted files can never re-qualify even though they
    compress smaller than the fragments they replaced — a bare
    count-vs-recomputed-bins rule would re-plan fewer bins on the very
    next run and rewrite forever (pytest-pinned). Affected
    partitions are read via a literal ``IN`` filter (guaranteed static
    pruning), checkpointed (the write replaces the files the plan reads),
    and rewritten with dynamic partition overwrite; every already-compact
    partition's files stay byte-identical (q109 gates this with the q58
    size+md5 manifest), and a second run is a no-op. Content is carried
    row-for-row — the oracle is the table's own definition.

    Bin assignment is ``pmod(xxhash64(<row>), n_bins)`` per partition
    (deterministic, no RNG), and the shuffle lands on
    ``(partition_col, bin)`` with 4× slack partitions so distinct bins
    rarely share a task; when they do, the writer merges them into one
    (still ≥ 1, never > requested) file — a fewer-files outcome, never a
    correctness one. For the dominant n_bins == 1 case the output is
    EXACTLY one file per partition regardless of hash collisions, since
    the parquet writer splits by partition value within a task.

    Returns a stats dict (partitions_compacted, files_before/after over
    the affected set, bins_planned) — metadata-scale, like the listing.
    """
    import math

    listing = _partition_files(path, partition_col)
    plan: dict[str, int] = {}
    files_before = 0
    for val, files in listing.items():
        total = sum(sz for _, sz in files)
        n_bins = max(1, math.ceil(total / target_bytes))
        n_small = sum(1 for _, sz in files if sz < target_bytes // 2)
        if len(files) > n_bins and n_small >= 2:
            plan[val] = n_bins
            files_before += len(files)
    if not plan:
        return {"partitions_compacted": 0, "files_before": 0,
                "files_after": 0, "bins_planned": 0}

    table = spark.read.parquet(path)
    ptype = dict(table.dtypes)[partition_col]
    def _coerce(v: str):
        return int(v) if ptype in ("int", "bigint", "smallint",
                                   "tinyint") else v
    vals = [_coerce(v) for v in plan]
    affected = table.where(F.col(partition_col).isin(vals))

    data_cols = [c for c in table.columns if c != partition_col]
    bins_map = F.create_map(
        *[x for v, n in plan.items()
          for x in (F.lit(_coerce(v)), F.lit(n))]
    )
    n_bins_col = F.element_at(bins_map, F.col(partition_col))
    total_bins = sum(plan.values())
    binned = affected.withColumn(
        "__bin",
        F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), n_bins_col),
    ).repartition(max(32, 4 * total_bins),
                  F.col(partition_col), F.col("__bin"))
    out = binned.drop("__bin")
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        out = out.checkpoint()
    else:
        out = out.localCheckpoint()
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    after_listing = _partition_files(path, partition_col)
    files_after = sum(len(after_listing.get(v, [])) for v in plan)
    return {
        "partitions_compacted": len(plan),
        "files_before": files_before,
        "files_after": files_after,
        "bins_planned": total_bins,
    }


def apply_changes(
    prior: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
) -> DataFrame:
    """Consume a CDC feed WITH DELETES — the other half of
    :func:`snapshot_diff` (which produces feeds) and the full MERGE
    INTO semantics :func:`upsert` lacks: ``changes`` carries ``op_col``
    ∈ {'upsert', 'delete'}; upserted keys take the change row's values,
    deleted keys vanish, untouched prior rows pass through.

    ONE shuffle shape: the prior anti-joins the ENTIRE change key set
    once (delete and upsert keys together — a deleted key must not pass
    through, an upserted key is replaced anyway), then the upsert rows
    union on top. Deletes are therefore free: they ride the same
    anti-join that LWW replacement already needs. Table formats spell
    this MERGE INTO ... WHEN MATCHED [AND op='delete'] THEN DELETE;
    underneath it compiles to exactly this join shape.

    PRECONDITION: ``changes`` key-unique (collapse a multi-event batch
    to final state per key first — e.g. max_by(version) — the
    :func:`upsert` version_col discipline).
    """
    data_cols = [c for c in changes.columns if c != op_col]
    keep = prior.join(changes.select(key), key, "left_anti")
    ups = changes.where(F.col(op_col) == "upsert").select(*data_cols)
    return keep.unionByName(ups)


def mv_sync(
    spark,
    base_path: str,
    mv_path: str,
    group_col: str,
    value_col: str = "cents",
) -> int | None:
    """Incrementally maintain a per-group (count, sum) MATERIALIZED
    VIEW of a snapshot table from its changelog — the canonical
    lakehouse incremental-ETL pattern (Iceberg incremental append scan
    feeding a rollup): after the first full build, every sync reads
    ONLY the rows appended since the last one (sources/tables.py:
    snapshot_changes), folds them into the affected groups, and
    rewrites only those groups' partitions in the MV (snapshot_upsert's
    bounded copy-on-write). At 100 TB the steady-state cost is
    O(appended bytes + touched groups), never a base rescan.

    MV schema: ``(group_col, n_rows, sum_<value_col>)``, partitioned by
    ``group_col``. The applied frontier (base snapshot id) is recorded
    as an MV tag ``sync-<base_sid>`` and every incremental commit
    carries ``commit_id="sync-<base_sid>"`` — replays repoint instead
    of double-counting (exactly-once at the table level), and the
    frontier survives expiry because tags pin manifests.

    Returns the new MV snapshot id, or None when already up to date.
    A rewrite/compaction/delete on the base inside the sync window
    makes :func:`~osmcha_spark.sources.tables.snapshot_changes` RAISE
    (append-only contract, q133) — the MV must then be rebuilt by
    dropping it; silent double-counting is never possible."""
    from osmcha_spark.sources import tables as T

    sum_col = f"sum_{value_col}"
    cur = T.current_snapshot(base_path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {base_path}")

    def _agg(df):
        return df.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(value_col).cast("long").alias(sum_col),
        )

    if T.current_snapshot(mv_path) is None:
        full = T.read_snapshot(spark, base_path, cur)
        T.snapshot_create(_agg(full), mv_path, partition_col=group_col,
                          commit_id=f"sync-{cur}")
        T.snapshot_tag(mv_path, f"sync-{cur}")
        return T.current_snapshot(mv_path)

    frontier = max(
        (int(n[5:]) for n in T.list_tags(mv_path)
         if n.startswith("sync-")),
        default=None,
    )
    if frontier is None:
        raise ValueError(f"{mv_path} has no sync-* frontier tag: not a "
                         "mv_sync-maintained view")
    done = T._find_commit(mv_path, f"sync-{cur}")
    if done is not None:
        # this base snapshot was already folded in; heal a lost
        # pointer (crash between commit and repoint) instead of
        # silently staying stale
        if T.current_snapshot(mv_path) != done:
            T._point_current(mv_path, done)
            return done
        return None
    if frontier == cur:
        return None
    delta = T.snapshot_changes(spark, base_path, frontier, cur)
    delta_agg = _agg(delta)
    mv = T.read_snapshot(spark, mv_path)
    touched = delta_agg.select(group_col).distinct()
    upd = (
        mv.join(touched, group_col)          # bounded: affected groups
        .unionByName(delta_agg)
        .groupBy(group_col)
        .agg(F.sum("n_rows").cast("long").alias("n_rows"),
             F.sum(sum_col).cast("long").alias(sum_col))
    )
    sid = T.snapshot_upsert(upd, mv_path, key=group_col,
                            commit_id=f"sync-{cur}")
    T.snapshot_tag(mv_path, f"sync-{cur}")
    return sid


def join_mv_sync(
    spark,
    a_path: str,
    b_path: str,
    mv_path: str,
    key: str,
    a_cols: list,
    b_cols: list,
) -> int | None:
    """Incrementally maintain an EQUI-JOIN materialized view
    ``J = A ⋈_key B`` of two append-only snapshot tables — the
    delta-join rung on top of :func:`mv_sync`'s group-by rollup
    (classic incremental view maintenance; Blakeley et al. 1986):

        ΔJ = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB

    ΔA joins against the NEW B (so ΔA×ΔB pairs land exactly once) and
    ΔB against the OLD A (time travel gives A_old for free — snapshots
    are immutable, no second bookkeeping). Appends on the bases can
    only ADD join rows, so the MV itself is append-only: every sync is
    ONE :func:`~osmcha_spark.sources.tables.snapshot_append` of the
    delta — never a rewrite.

    The applied frontier is the PAIR of base snapshot ids, recorded as
    an MV tag ``sync-<a_sid>-<b_sid>`` with the same string as
    commit_id — replays repoint, never double-append (the mv_sync
    exactly-once discipline); a frontier-advancing sync with an EMPTY
    delta still commits (the frontier must move). A rewrite/compaction/
    delete on either base inside the window makes snapshot_changes
    RAISE (q133's append-only contract) — silent drift is impossible.

    Steady-state cost: O(ΔA·sel + ΔB·sel) join work plus ONE side scan
    each — and when a base is PARTITIONED on the join key, the scan
    side is partition-pruned to the delta's touched keys driver-side
    (the metadata-scale collect, incremental.py:104's precedent), so
    a small delta against a 100 TB base reads only the matching
    partitions. Unpartitioned bases pay the side scan; co-locate or
    bucket them on the key for production rates (the q76 layout).
    """
    from osmcha_spark.sources import tables as T

    ca = T.current_snapshot(a_path)
    cb = T.current_snapshot(b_path)
    if ca is None or cb is None:
        raise FileNotFoundError("both base tables must be committed")

    def _proj(df, cols):
        return df.select(key, *cols)

    def _read_side(path, sid, keys_df):
        """Side scan for a delta join — partition-pruned to the
        delta's keys when the base is partitioned on the join key."""
        man = T._load_manifest(path, sid)
        if man.get("partition_col") == key and keys_df is not None:
            keys = [r[0] for r in keys_df.distinct().collect()]
            if not keys:
                return None
            if not T.snapshot_files(path, sid, partitions=keys):
                return None  # pruning proved the term empty
            return T.read_snapshot(spark, path, sid, partitions=keys)
        return T.read_snapshot(spark, path, sid)

    if T.current_snapshot(mv_path) is None:
        full = _proj(T.read_snapshot(spark, a_path, ca), a_cols).join(
            _proj(T.read_snapshot(spark, b_path, cb), b_cols), key)
        T.snapshot_create(full, mv_path, commit_id=f"sync-{ca}-{cb}")
        T.snapshot_tag(mv_path, f"sync-{ca}-{cb}")
        return T.current_snapshot(mv_path)

    fronts = []
    for n in T.list_tags(mv_path):
        # only sync-<a_sid>-<b_sid> is this view's frontier; a foreign
        # sync-* tag (mv_sync's single-part sync-<sid>) is skipped
        parts = n.split("-")
        if (len(parts) == 3 and parts[0] == "sync"
                and parts[1].isdigit() and parts[2].isdigit()):
            fronts.append((int(parts[1]), int(parts[2])))
    if not fronts:
        raise ValueError(f"{mv_path} has no sync-*-* frontier tag: not "
                         "a join_mv_sync-maintained view")
    fa, fb = max(fronts)
    done = T._find_commit(mv_path, f"sync-{ca}-{cb}")
    if done is not None:
        if T.current_snapshot(mv_path) != done:
            T._point_current(mv_path, done)
            return done
        return None
    if (fa, fb) == (ca, cb):
        return None

    terms = []
    if ca > fa:
        da = _proj(T.snapshot_changes(spark, a_path, fa, ca), a_cols)
        b_side = _read_side(b_path, cb, da.select(key))
        if b_side is not None:
            terms.append(da.join(_proj(b_side, b_cols), key))
    if cb > fb:
        db = _proj(T.snapshot_changes(spark, b_path, fb, cb), b_cols)
        a_side = _read_side(a_path, fa, db.select(key))
        if a_side is not None:
            terms.append(_proj(a_side, a_cols).join(db, key))
    if terms:
        delta = terms[0]
        for t in terms[1:]:
            delta = delta.unionByName(t)
    else:
        mv_schema = T.read_snapshot(spark, mv_path)
        delta = mv_schema.limit(0)
    sid = T.snapshot_append(delta, mv_path, commit_id=f"sync-{ca}-{cb}")
    T.snapshot_tag(mv_path, f"sync-{ca}-{cb}")
    return sid
