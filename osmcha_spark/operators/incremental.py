"""Incremental upsert: last-writer-wins merge of a re-analysis batch into
a prior snapshot — the reference's real update pattern (changesets get
re-fetched and re-scored as they are edited; osmcha-django overwrites the
stored verdict row) expressed as a set operation.

Scale shape (100 TB): ONE shuffle — the anti-join on the key — plus a
union that is a pure plan concatenation. On stored tables the same merge
runs per affected partition inside the snapshot table's copy-on-write
upsert (sources/tables.py:snapshot_upsert): a minutely replication batch
rewrites only the partitions it touches and carries every other file by
reference — at table scale the WRITE is the merge cost, and bounding it
to touched partitions is what makes minutely merges into a 100 TB
snapshot affordable. Table formats (Iceberg/Delta MERGE INTO) compile to
this exact join + partition-scoped-rewrite shape underneath. The
incremental views (:func:`mv_sync`, :func:`join_mv_sync`) are maintained
through the same commits.
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
    downstream upsert (:func:`upsert` /
    :func:`~osmcha_spark.sources.tables.snapshot_upsert`) runs on the
    delta, and with both snapshots stored bucketed on the
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
    ``group_col``. Every commit carries ``commit_id="sync-<base_sid>"``
    and that id IS the applied frontier (read back from the MV's
    current manifest, atomic with the commit; nothing is written after
    it, so no crash can lose the frontier) — a replay never
    double-counts: it only heals a lost repoint by fast-forward
    (exactly-once at the table level).

    Returns the new (or healed) MV snapshot id, or None when already up
    to date.
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

    cid = f"sync-{cur}"
    head = T.current_snapshot(mv_path)
    if T._replay(mv_path, cid) is not None:
        now = T.current_snapshot(mv_path)
        return now if now != head else None  # healed, or up to date
    if head is None:
        full = T.read_snapshot(spark, base_path, cur)
        return T.snapshot_create(_agg(full), mv_path,
                                 partition_col=group_col, commit_id=cid)
    front = T._applied_frontier(mv_path, "sync", 1)
    if front is None:
        raise ValueError(f"{mv_path} has no sync-* commit: not a "
                         "mv_sync-maintained view")
    frontier = front[0]
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
    return T.snapshot_upsert(upd, mv_path, key=group_col, commit_id=cid)


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

    The applied frontier is the PAIR of base snapshot ids, carried as
    the commit_id ``sync-<a_sid>-<b_sid>`` of every MV commit — a
    replay only heals a lost repoint by fast-forward, never
    double-appends, and returns None when the view is up to date, also
    after a compaction of the view (the mv_sync exactly-once
    discipline); a
    frontier-advancing sync with an EMPTY delta still commits (the
    frontier must move). A rewrite/compaction/
    delete on either base inside the window makes snapshot_changes
    RAISE (q133's append-only contract) — silent drift is impossible.

    Steady-state cost: O(ΔA·sel + ΔB·sel) join work plus ONE side scan
    each — and when a base is PARTITIONED on the join key, the scan
    side is partition-pruned to the delta's touched keys driver-side,
    so a small delta against a 100 TB base reads only the matching
    partitions. The key collect is bounded by metadata, not data: at
    most one key more than the side has partition values is fetched,
    and a delta with more distinct keys than that falls back to the
    full side scan. Unpartitioned bases pay the side scan; co-locate or
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
        if man.get("partition_col") == key:
            n = len({f["partition"] for f in man["files"]})
            keys = [r[0] for r in keys_df.distinct().limit(n + 1).collect()]
            if not keys:
                return None
            if len(keys) <= n:
                if not T.snapshot_files(path, sid, partitions=keys):
                    return None  # pruning proved the term empty
                return T.read_snapshot(spark, path, sid, partitions=keys)
        return T.read_snapshot(spark, path, sid)

    cid = f"sync-{ca}-{cb}"
    head = T.current_snapshot(mv_path)
    if T._replay(mv_path, cid) is not None:
        now = T.current_snapshot(mv_path)
        return now if now != head else None  # healed, or up to date
    if head is None:
        full = _proj(T.read_snapshot(spark, a_path, ca), a_cols).join(
            _proj(T.read_snapshot(spark, b_path, cb), b_cols), key)
        return T.snapshot_create(full, mv_path, commit_id=cid)
    # only a sync-<a_sid>-<b_sid> commit is this view's frontier
    front = T._applied_frontier(mv_path, "sync", 2)
    if front is None:
        raise ValueError(f"{mv_path} has no sync-*-* commit: not a "
                         "join_mv_sync-maintained view")
    fa, fb = front

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
    return T.snapshot_append(delta, mv_path, commit_id=cid)
