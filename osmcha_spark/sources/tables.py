"""Table loaders.

Iceberg is the designed catalog (S10); the sandbox ships no Iceberg runtime
jar, so the loader falls back to plain parquet paths transparently. Either
way the read is schema-explicit and prune-friendly: always pass the columns
you need to ``load_table`` so the scan's ReadSchema stays minimal.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(
    spark: SparkSession,
    name: str,
    base: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Load ``name`` either from an Iceberg catalog table ``base.name``
    (when ``base`` has no path separator and the catalog resolves) or from
    ``{base}/{name}.parquet``."""
    if os.sep not in base and "/" not in base:
        try:
            df = spark.read.table(f"{base}.{name}")
            return df.select(*columns) if columns else df
        except Exception:
            pass
    df = spark.read.parquet(os.path.join(base, f"{name}.parquet"))
    return df.select(*columns) if columns else df


# --------------------------------------------------------------------
# Snapshot table format (S10 made real)
#
# A minimal manifest/snapshot layer, and the engine's ONE commit
# protocol: every table the engine publishes goes through it — batch
# upserts and compaction, the streaming sinks (streaming/ingest.py:
# stream_upsert, stream_pyramid, stream_snapshot_append/merge), the
# stored IVF index's inverted lists (operators/similarity.py) and the
# incremental views (operators/incremental.py:mv_sync/join_mv_sync).
# It gives every one of them ATOMIC commits and TIME TRAVEL. The layout
# follows the Iceberg spec (https://iceberg.apache.org/spec/).
#
# Layout:
#   <path>/data/<commit>-...parquet      immutable data files
#   <path>/snapshots/s_<n>.json          manifest: the file list (name,
#                                        partition value, bytes, rows)
#   <path>/_CURRENT                      catalog pointer (os.replace)
#
# Commit protocol (single writer; a multi-writer deployment swaps the
# _CURRENT file for a catalog CAS, exactly Iceberg's contract):
#   1. write NEW data files into data/ (never overwriting — a snapshot
#      table has no self-overwrite problem, so a bounded rewrite needs
#      no checkpoint-before-write);
#   2. write the manifest to a temp name, link it to s_<n>.json —
#      manifest existence is the commit point;
#   3. os.replace the _CURRENT pointer (or a branch head).
# Every committing verb therefore has exactly two crash points, both
# covered by ONE replay rule (_replay). Crash before (2): the new files
# and any manifest temp are invisible (reads go through the manifest)
# and vacuum() reclaims them; the replay finds no commit and runs the
# verb again. Crash between (2) and (3): readers keep the old
# consistent snapshot; a replay bearing the same commit_id finds its
# manifest and moves the ref only as a fast-forward, so a lost repoint
# heals while a later commit built on the replayed one (a compaction)
# or a fork after a rollback stays current. Nothing is written after
# (3): table properties (partition spec, schema, bloom_cols, CHECK
# constraints) live in the manifest, and anything a writer must
# remember across commits (a sync frontier) lives in the commit_id.
#
# Reads prune FILES from the manifest (partition-value selection happens
# driver-side on metadata, before Spark ever lists a directory), then the
# parquet scan prunes row groups within the survivors as usual. At 100 TB
# the manifest is O(#files) JSON — the same metadata scale as the Hadoop
# listing it replaces, paid once per commit instead of per query.
#
# Round-5 extensions (the two features a real Iceberg user reaches for
# next):
#
# * FILE-LEVEL COLUMN STATS — every manifest entry carries per-column
#   [min, max] lifted from the parquet footer at write time (numeric
#   top-level columns only: nested map/struct leaves are skipped — the
#   leaf-index-vs-field-index trap of operators/layout.py — and string
#   stats are skipped because parquet writers may truncate them).
#   ``read_snapshot(where=[(col, lo, hi), ...])`` drops files whose
#   stats range misses the predicate BEFORE Spark plans the scan. This
#   is candidate pruning, lossless by construction: files without stats
#   for the column always survive, and the caller still applies the
#   real filter. Cluster the table on the predicate column first
#   (repartitionByRange at write) and a selective range read touches
#   O(result) files out of O(table) — manifest pruning above the
#   footer-level row-group pruning layout.py already measured. For
#   POINT lookups on columns the table is NOT clustered on, a
#   ``bloom_cols`` table property adds a per-file 1024-bit Bloom
#   filter (built from one columnar read of the fresh file — the
#   write-time pass Iceberg/Delta spend for the same metadata);
#   ``where_eq=[(col, value)]`` prunes via membership, false
#   positives only ever KEEP a file.
#
# * SCHEMA EVOLUTION (add-column) — each manifest records the table
#   schema; an append/upsert batch may carry NEW columns (same-name
#   type conflicts are rejected). Readers reconcile heterogeneous data
#   files via parquet mergeSchema over the (already-pruned) file list,
#   then project to the manifest schema, null-filling columns absent
#   from every scanned file. Time travel composes: an old snapshot id
#   reads with its OWN recorded schema, so evolution never rewrites a
#   byte of data.
# --------------------------------------------------------------------

import json as _json
import shutil as _shutil
import uuid as _uuid


class ConcurrentCommitError(RuntimeError):
    """Two writers raced one snapshot id; the loser raises (and loses
    nothing — its files are unreferenced until vacuum)."""


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _snapshots_dir(path: str) -> str:
    return os.path.join(path, "snapshots")


def _manifest_file(path: str, sid: int) -> str:
    return os.path.join(_snapshots_dir(path), f"s_{sid:010d}.json")


def list_snapshots(path: str) -> list[int]:
    """Committed snapshot ids, ascending (metadata-scale listing)."""
    d = _snapshots_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[2:-5]) for n in os.listdir(d)
        if n.startswith("s_") and n.endswith(".json")
    )


def current_snapshot(path: str) -> int | None:
    """The snapshot id the _CURRENT pointer names, or None."""
    cur = os.path.join(path, "_CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as fh:
        return int(fh.read().strip())


def _load_manifest(path: str, sid: int) -> dict:
    with open(_manifest_file(path, sid)) as fh:
        return _json.load(fh)


def _file_stats(meta) -> dict:
    """Per-column [min, max] from the parquet footer for TOP-LEVEL
    NUMERIC columns (int/float/bool). Nested leaves (a map/struct
    column's ``path_in_schema`` contains '.') and string/binary/
    temporal columns are skipped: nested leaf indices diverge from
    arrow field indices, string footer stats may be writer-truncated,
    and datetimes don't survive the JSON manifest. Columns missing
    stats in ANY row group record nothing — absence means "cannot
    prune", never "empty"."""
    stats: dict = {}
    if meta.num_row_groups == 0:
        return stats
    for i in range(meta.num_columns):
        path = meta.row_group(0).column(i).path_in_schema
        if "." in path:
            continue
        lo = hi = None
        ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bool) or isinstance(mx, bool):
                mn, mx = int(mn), int(mx)
            if not (isinstance(mn, (int, float))
                    and isinstance(mx, (int, float))):
                ok = False
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if ok and lo is not None:
            stats[path] = [lo, hi]
    return stats


def _file_nulls(meta) -> dict:
    """Per-column NULL counts from the parquet footer for TOP-LEVEL
    columns (any type — null_count is type-agnostic). Recorded only
    when EVERY row group reports one (absence means "cannot answer",
    the stats rule). Powers the all-NULL file skip in snapshot_files
    (a range predicate can never match a column that is NULL in every
    row — pruning such files is lossless) and
    snapshot_metadata_agg(null_cols=...)."""
    nulls: dict = {}
    if meta.num_row_groups == 0:
        return nulls
    for i in range(meta.num_columns):
        path = meta.row_group(0).column(i).path_in_schema
        if "." in path:
            continue
        total = 0
        ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(i).statistics
            if st is None or st.null_count is None:
                ok = False
                break
            total += int(st.null_count)
        if ok:
            nulls[path] = total
    return nulls


_BLOOM_K = 4
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 17  # 16 KiB binary per (file, column) manifest cap


def _bloom_positions(value, m: int) -> list[int]:
    """k deterministic bit positions for one value in an m-bit filter:
    md5 of the string form, consumed 32 bits per probe. String form is
    ``str(v)`` — ints and strings only (the manifest's JSON types), so
    the encoding is stable across engines and runs."""
    import hashlib as _hashlib

    h = _hashlib.md5(str(value).encode()).hexdigest()
    return [
        int(h[8 * i: 8 * i + 8], 16) % m
        for i in range(_BLOOM_K)
    ]


def _bloom_build(values) -> dict:
    """``{"m": bits, "bits": hex}`` Bloom filter over ``values`` (nulls
    skipped — an equality predicate never matches null). SIZED to the
    file: m = smallest power of two ≥ 16 bits per distinct value
    (k=4 → ~0.1% false positives), clamped to [2^10, 2^17] so the
    manifest entry stays ≤ 16 KiB per column; a file with more
    distinct keys than the cap covers degrades to a weaker (but still
    lossless) filter rather than a bigger manifest — Iceberg moves
    past this with sidecar puffin files, noted in the module header."""
    distinct = {v for v in values if v is not None}
    m = _BLOOM_MIN_BITS
    while m < 16 * len(distinct) and m < _BLOOM_MAX_BITS:
        m <<= 1
    bits = 0
    for v in distinct:
        for p in _bloom_positions(v, m):
            bits |= 1 << p
    return {"m": m, "bits": f"{bits:0{m // 4}x}"}


def _bloom_maybe_contains(bloom: dict, value) -> bool:
    bits = int(bloom["bits"], 16)
    return all(
        (bits >> p) & 1 for p in _bloom_positions(value, bloom["m"])
    )


def table_checks(path: str) -> list[str]:
    """The table's write-time CHECK constraints (may be empty)."""
    cur = current_snapshot(path)
    if cur is None:
        return []
    return list(_load_manifest(path, cur).get("checks") or [])


def _validate_checks(df: DataFrame, checks: list[str] | None,
                     op: str) -> None:
    """Write-time enforcement (Delta's CHECK constraints): ONE
    aggregation pass counts violators of every expression at once —
    NULL check results count as violations (a constraint must PROVE
    itself, Delta/ANSI semantics) — and the write refuses with the
    per-check counts. Checks are a table property of the manifest, like
    ``bloom_cols``: set at create and carried by every later commit, so
    they land atomically with the first snapshot and each snapshot
    records the checks its writes were validated against."""
    if not checks:
        return
    from pyspark.sql import functions as F

    aggs = [
        F.sum(
            F.when(F.expr(c), F.lit(0)).otherwise(F.lit(1))
        ).alias(f"__c{i}")
        for i, c in enumerate(checks)
    ]
    row = df.agg(*aggs).first()
    bad = {checks[i]: int(row[i] or 0) for i in range(len(checks))
           if (row[i] or 0) > 0}
    if bad:
        raise ValueError(
            f"{op} refused: CHECK constraint violations {bad} "
            "(counts of rows failing each expression; NULL results "
            "count as violations)"
        )


def _point_current(path: str, sid: int) -> None:
    tmp = os.path.join(path, "_CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"{sid}\n")
    os.replace(tmp, os.path.join(path, "_CURRENT"))


def _tags_dir(path: str) -> str:
    return os.path.join(path, "tags")


def snapshot_tag(path: str, name: str, snapshot: int | None = None) -> int:
    """Name a snapshot (Iceberg's tags/refs): ``name`` → snapshot id,
    written atomically (temp + rename; re-tagging replaces). Tagged
    snapshots are RETAINED by :func:`expire_snapshots` regardless of
    ``keep_last`` — a release tag keeps its data alive. Resolve with
    ``read_snapshot(..., tag=name)`` / :func:`resolve_tag`."""
    sid = current_snapshot(path) if snapshot is None else int(snapshot)
    if sid is None or not os.path.exists(_manifest_file(path, sid)):
        raise FileNotFoundError(f"no committed snapshot {sid} at {path}")
    os.makedirs(_tags_dir(path), exist_ok=True)
    tmp = os.path.join(_tags_dir(path), f".{name}.tmp-{_uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(f"{sid}\n")
    os.replace(tmp, os.path.join(_tags_dir(path), name))
    return sid


def list_tags(path: str) -> dict:
    """``{tag_name: snapshot_id}`` for every tag on the table."""
    d = _tags_dir(path)
    if not os.path.isdir(d):
        return {}
    out = {}
    for name in sorted(os.listdir(d)):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            out[name] = int(fh.read().strip())
    return out


def resolve_tag(path: str, name: str) -> int:
    tags = list_tags(path)
    if name not in tags:
        raise FileNotFoundError(f"no tag {name!r} at {path}")
    return tags[name]


def _branches_dir(path: str) -> str:
    return os.path.join(path, "branches")


def _point_branch(path: str, name: str, sid: int) -> None:
    os.makedirs(_branches_dir(path), exist_ok=True)
    tmp = os.path.join(_branches_dir(path),
                       f".{name}.tmp-{_uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(f"{sid}\n")
    os.replace(tmp, os.path.join(_branches_dir(path), name))


def snapshot_branch(path: str, name: str,
                    snapshot: int | None = None) -> int:
    """Create (or repoint) a named BRANCH — a WRITABLE ref (Iceberg
    branches): ``snapshot_append(..., branch=name)`` commits on the
    branch head and advances the branch pointer while ``_CURRENT``
    (main) never moves, so auditors/experiments accumulate commits in
    isolation; :func:`snapshot_fast_forward` publishes the whole run
    at once. Starts at ``snapshot`` (default: current main). Branch
    heads are retained by :func:`expire_snapshots` like tags."""
    sid = current_snapshot(path) if snapshot is None else int(snapshot)
    if sid is None or not os.path.exists(_manifest_file(path, sid)):
        raise FileNotFoundError(f"no committed snapshot {sid} at {path}")
    _point_branch(path, name, sid)
    return sid


def list_branches(path: str) -> dict:
    """``{branch_name: head_snapshot_id}`` for every branch."""
    d = _branches_dir(path)
    if not os.path.isdir(d):
        return {}
    out = {}
    for name in sorted(os.listdir(d)):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            out[name] = int(fh.read().strip())
    return out


def resolve_branch(path: str, name: str) -> int:
    branches = list_branches(path)
    if name not in branches:
        raise FileNotFoundError(f"no branch {name!r} at {path}")
    return branches[name]


def _is_ancestor(path: str, ancestor: int, descendant: int) -> bool:
    """Walk ``descendant``'s parent chain looking for ``ancestor``.
    A missing manifest on the way (expired) means the ancestry can't
    be PROVEN — return False rather than guess; the caller's
    fast-forward then refuses, the safe failure."""
    sid = descendant
    while sid is not None:
        if sid == ancestor:
            return True
        mf = _manifest_file(path, sid)
        if not os.path.exists(mf):
            return False
        sid = _load_manifest(path, sid).get("parent")
    return False


def snapshot_fast_forward(path: str, branch: str) -> int:
    """Publish a branch: move main (``_CURRENT``) to the branch head,
    allowed only when current main IS an ancestor of that head — the
    branch contains main's history plus its own commits, so the swap
    drops nothing. If main moved since the branch was cut, the branch
    must be re-staged (raise — same fast-forward-only contract as
    :func:`snapshot_publish`, extended from one staged commit to a
    whole branch)."""
    head = resolve_branch(path, branch)
    cur = current_snapshot(path)
    if cur == head:
        return head
    if cur is None or not _is_ancestor(path, cur, head):
        raise ValueError(
            f"branch {branch!r} (head {head}) is not a fast-forward of "
            f"current {cur}; main moved since the branch was cut — "
            "re-stage the branch on the new table state"
        )
    _point_current(path, head)
    return head


def snapshot_publish(path: str, snapshot: int) -> int:
    """Publish a STAGED snapshot (one committed with ``publish=False``
    — the write-audit-publish pattern: write the batch invisibly,
    audit it via ``read_snapshot(snapshot=sid)``, then fast-forward).
    Only a fast-forward is allowed: the staged snapshot's parent must
    BE the current snapshot, otherwise the table moved since staging
    and publishing would silently drop the interleaved commit — the
    caller must re-stage (raise, same single-writer spirit as
    ConcurrentCommitError)."""
    sid = int(snapshot)
    man = _load_manifest(path, sid)
    cur = current_snapshot(path)
    if man.get("parent") != cur:
        raise ValueError(
            f"snapshot {sid} (parent {man.get('parent')}) is not a "
            f"fast-forward of current {cur}; re-stage on the new table "
            "state"
        )
    _point_current(path, sid)
    return sid


_TABLE_PROPS = ("partition_col", "partition_transform", "schema",
                "bloom_cols", "deletes", "checks")


def _commit(path: str, files: list[dict], base: dict | None,
            parent: int | None, commit_id: str | None,
            publish: bool = True, **props) -> int:
    """Steps (2)+(3) of the protocol: atomic manifest, then repoint.

    The manifest carries the table properties (``_TABLE_PROPS``) of
    ``base`` — the manifest the verb read, None for a create — except
    the ones the verb overrides in ``props``.

    Every entry (data file or equality-delete file) is stamped with the
    SEQUENCE NUMBER of the commit that first introduced it (``seq`` =
    this snapshot id; carried entries keep theirs) — Iceberg's data
    sequence numbers, the thing that scopes equality deletes: a delete
    applies to a data file iff ``file.seq < delete.seq``, so re-appends
    of a deleted key are never retro-deleted."""
    props = {k: (base or {}).get(k) for k in _TABLE_PROPS} | props
    props["deletes"] = list(props["deletes"] or [])
    os.makedirs(_snapshots_dir(path), exist_ok=True)
    existing = list_snapshots(path)
    sid = existing[-1] + 1 if existing else 0
    for f in files:
        f.setdefault("seq", sid)
        # partition-spec evolution (q158): every entry remembers the
        # spec column it was WRITTEN under; carried entries keep theirs,
        # so after snapshot_evolve_partition old files stay correctly
        # interpreted (and never wrongly pruned) under the new spec
        f.setdefault("spec_col", props["partition_col"])
    for d in props["deletes"]:
        d.setdefault("seq", sid)
    # the highest id holds the newest stamp: every commit stamps past
    # it, and expire_snapshots always keeps it — one manifest read
    prev_ts = int(_load_manifest(path, existing[-1])
                  .get("committed_at_us") or 0) if existing else 0
    import time as _time

    manifest = {
        "snapshot": sid,
        "parent": parent,
        # wall-clock commit stamp, forced strictly increasing so
        # as-of-timestamp resolution is total-ordered even when two
        # commits land inside one clock tick
        "committed_at_us": max(int(_time.time() * 1_000_000),
                               prev_ts + 1),
        "commit_id": commit_id,
        **props,
        "files": files,
    }
    tmp = _manifest_file(path, sid) + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        _json.dump(manifest, fh)
    # hard-link, not replace: link(2) fails with EEXIST if another
    # writer already claimed this snapshot id, so a violated
    # single-writer contract LOSES no manifest — it raises, the loser's
    # data files stay invisible (vacuum reclaims them), and the caller
    # re-reads the new current and retries. This is the local-fs stand-
    # in for the catalog CAS a cluster deployment swaps in.
    try:
        os.link(tmp, _manifest_file(path, sid))
    except FileExistsError:
        os.remove(tmp)
        raise ConcurrentCommitError(
            f"snapshot {sid} at {path} was committed by another writer "
            "between reading the table state and committing; re-read "
            "and retry the operation"
        ) from None
    os.remove(tmp)
    if publish:
        _point_current(path, sid)
    return sid


def _mixed_spec(man: dict) -> bool:
    """True when the manifest carries files written under an OLDER
    partition spec than the current one (q158: between
    snapshot_evolve_partition and snapshot_rewrite_partitions)."""
    pcol = man["partition_col"]
    return any(f.get("spec_col", pcol) != pcol for f in man["files"])


def _require_single_spec(man: dict, op: str) -> None:
    if _mixed_spec(man):
        raise ValueError(
            f"{op} requires a single partition spec, but the table has "
            "files written under an older spec (partition evolution is "
            "pending): run snapshot_rewrite_partitions first"
        )


# ---------------------------------------------------------------------------
# hidden partition transforms (Iceberg spec "Partition Transforms":
# bucket[N] and truncate[W]) — the table partitions on a value DERIVED
# from a source column; writers compute it automatically and readers
# prune files from predicates on the SOURCE column, never naming the
# partition (the "hidden" in hidden partitioning). V1 scope: transforms
# are declared at snapshot_create and supported by append / read /
# prune / compact / row-level deletes; partition-bounded rewrites
# (upsert, merge, evolution, rewrite_*) REFUSE — they reason in terms
# of caller-supplied partition columns, which a transformed table
# deliberately hides.


def _parse_transform(spec) -> dict:
    """Validate a ``(kind, n, source)`` transform spec tuple."""
    try:
        kind, n, source = spec
    except (TypeError, ValueError):
        raise ValueError(
            "partition_transform must be a (kind, n, source_col) tuple, "
            "e.g. ('bucket', 8, 'user_id') or ('truncate', 1000, 'id')"
        ) from None
    if kind not in ("bucket", "truncate"):
        raise ValueError(f"unknown partition transform kind {kind!r} "
                         "(supported: bucket, truncate)")
    n = int(n)
    if n <= 0:
        raise ValueError(f"partition transform width/count must be "
                         f"positive, got {n}")
    return {"kind": kind, "n": n, "source": str(source)}


def _transform_name(tr: dict) -> str:
    """The derived partition-spec name recorded as partition_col —
    never a real column name, so spec_col identity keeps working."""
    return f"{tr['kind']}({tr['n']},{tr['source']})"


def _transform_expr(tr: dict, src_type: str):
    """Column computing each row's partition value under the transform.

    bucket: md5-hex-prefix int64 of the string form, mod N — the one
    portable string hash (synth.py's rule; Iceberg specifies murmur3,
    an implementation detail this local format swaps for the hash both
    engines and the driver can mirror). truncate: ints floor to a
    multiple of W (toward -inf, Iceberg's contract — NOT Spark `div`);
    strings keep the leading W characters."""
    from pyspark.sql import functions as F

    src = F.col(tr["source"])
    n = int(tr["n"])
    if tr["kind"] == "bucket":
        h = F.conv(
            F.substring(F.md5(src.cast("string")), 1, 15), 16, 10
        ).cast("long")
        return F.pmod(h, F.lit(n))
    if src_type == "string":
        return F.substring(src, 1, n)
    return (src - F.pmod(src, F.lit(n))).cast("long")


def _transform_value(tr: dict, v):
    """Driver-side mirror of :func:`_transform_expr` for manifest
    pruning — must agree with the executor expression bit-for-bit."""
    n = int(tr["n"])
    if tr["kind"] == "bucket":
        import hashlib
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        return h % n
    if isinstance(v, str):
        return v[:n]
    return int(v) - (int(v) % n)  # Python % floors, matching pmod


def _require_no_transform(man: dict, op: str) -> None:
    if man.get("partition_transform"):
        raise ValueError(
            f"{op} is not supported on a hidden-partition-transform "
            "table (bucket/truncate spec): partition-bounded rewrites "
            "reason in caller-visible partition columns, which the "
            "transform hides; supported verbs are append, read, prune, "
            "compact and row-level deletes"
        )


def _find_commit(path: str, commit_id: str) -> int | None:
    """Snapshot id already committed under commit_id, if any (replay)."""
    for sid in list_snapshots(path):
        if _load_manifest(path, sid).get("commit_id") == commit_id:
            return sid
    return None


def _replay(path: str, commit_id: str | None, branch: str | None = None,
            publish: bool = True) -> int | None:
    """The one replay rule of every committing verb: the snapshot a
    previous run already committed under ``commit_id``, or None (run
    the verb). A found commit moves its ref — ``branch``'s head, else
    main; nothing for a staged ``publish=False`` commit — only as a
    FAST-FORWARD: when the ref is unset or a proper ancestor of the
    commit. So a repoint lost between the manifest link and the repoint
    heals, and a later commit built on the replayed one (a compaction)
    or a fork after a rollback stays current."""
    if commit_id is None:
        return None
    done = _find_commit(path, commit_id)
    if done is None or (branch is None and not publish):
        return done
    head = current_snapshot(path) if branch is None \
        else resolve_branch(path, branch)
    if head is None or (head != done and _is_ancestor(path, head, done)):
        if branch is None:
            _point_current(path, done)
        else:
            _point_branch(path, branch, done)
    return done


def _applied_frontier(path: str, prefix: str, arity: int) -> tuple | None:
    """The source snapshot ids a sync-maintained table last applied,
    parsed from the ``<prefix>-<sid>[-<sid>...]`` commit_id (``arity``
    ids) of its current manifest. The commit_id is written in the same
    atomic step as the data it describes, so no crash can separate the
    frontier from the commit. Commits stamped otherwise — None, like a
    compaction, or a
    foreign id — are walked past via ``parent``; None when no retained
    ancestor carries a matching stamp."""
    sid = current_snapshot(path)
    while sid is not None and os.path.exists(_manifest_file(path, sid)):
        man = _load_manifest(path, sid)
        parts = (man.get("commit_id") or "").split("-")
        if (len(parts) == arity + 1 and parts[0] == prefix
                and all(p.isdigit() for p in parts[1:])):
            return tuple(int(p) for p in parts[1:])
        sid = man.get("parent")
    return None


def _write_files(df: DataFrame, path: str,
                 partition_col: str | None,
                 bloom_cols: list[str] | None = None,
                 transform: dict | None = None,
                 skip_empty: bool = False) -> list[dict] | None:
    """Step (1): write df as immutable files under data/, grouped by
    partition value, and return their manifest entries. ONE Spark job:
    partitionBy on a DUPLICATE column so the partition column stays a
    real column inside every file (Iceberg-style — the manifest carries
    the value for pruning, the file carries it for the scan). With a
    hidden-partition ``transform`` the ``__pv`` column is DERIVED from
    the transform's source column instead (and only the source column
    lands in the data files — the derived value lives in the manifest
    alone, Iceberg's hidden-partitioning contract).

    ``skip_empty`` returns None instead of entries, deleting the
    written files, when their footers hold zero rows in total.
    Emptiness is read from the footers the entries need anyway, so the
    caller never runs the upstream plan a second time to probe it."""
    import pyarrow.parquet as _pq
    from urllib.parse import unquote as _unquote

    token = _uuid.uuid4().hex[:12]
    staging = os.path.join(path, f"_staging_{token}")
    if transform is not None:
        src_type = dict(df.dtypes)[transform["source"]]
        (
            df.withColumn("__pv", _transform_expr(transform, src_type))
            .write.mode("overwrite").partitionBy("__pv").parquet(staging)
        )
    elif partition_col is not None:
        (
            df.withColumn("__pv", df[partition_col])
            .write.mode("overwrite").partitionBy("__pv").parquet(staging)
        )
    else:
        df.write.mode("overwrite").parquet(staging)
    os.makedirs(_data_dir(path), exist_ok=True)
    entries: list[dict] = []
    for root, _dirs, fnames in os.walk(staging):
        base = os.path.basename(root)
        pval = _unquote(base[len("__pv="):]) if base.startswith("__pv=") \
            else None
        for fn in sorted(fnames):
            if not fn.endswith(".parquet"):
                continue
            name = f"{token}-{len(entries):05d}.parquet"
            dest = os.path.join(_data_dir(path), name)
            _shutil.move(os.path.join(root, fn), dest)
            meta = _pq.ParquetFile(dest).metadata
            entry = {
                "name": name,
                "partition": pval,
                "bytes": os.path.getsize(dest),
                "rows": meta.num_rows,
                "stats": _file_stats(meta),
                "nulls": _file_nulls(meta),
            }
            if bloom_cols:
                # one extra columnar read of the FRESH local file (the
                # write-time pass Iceberg/Delta spend for the same
                # metadata); int/string key columns only — str(v) must
                # be engine-stable
                present = [c for c in bloom_cols
                           if c in meta.schema.to_arrow_schema().names]
                if present:
                    tbl = _pq.read_table(dest, columns=present)
                    entry["blooms"] = {
                        c: _bloom_build(tbl.column(c).to_pylist())
                        for c in present
                    }
            entries.append(entry)
    if skip_empty and not sum(e["rows"] for e in entries):
        for e in entries:
            os.remove(os.path.join(_data_dir(path), e["name"]))
        entries = None
    _shutil.rmtree(staging, ignore_errors=True)
    return entries


def _schema_dict(df: DataFrame) -> dict:
    return df.schema.jsonValue()


def _merged_schema(old: dict | None, df: DataFrame) -> dict:
    """Add-column evolution: new = old fields (order kept) + df-only
    fields appended. A same-name field whose type string differs is a
    rejected evolution (no type changes / renames — the Iceberg subset
    this layer supports)."""
    new = _schema_dict(df)
    if old is None:
        return new
    new_by_name = {f["name"]: f for f in new["fields"]}
    for f in old["fields"]:
        g = new_by_name.get(f["name"])
        if g is not None and g["type"] != f["type"]:
            raise ValueError(
                f"schema evolution rejected: column {f['name']!r} "
                f"changes type {f['type']!r} -> {g['type']!r}"
            )
    old_names = {f["name"] for f in old["fields"]}
    merged = [dict(f) for f in old["fields"]]
    merged.extend(f for f in new["fields"] if f["name"] not in old_names)
    return {"type": "struct", "fields": merged}


def _align(df: DataFrame, schema: dict | None,
           extras: tuple = ()) -> DataFrame:
    """Project df to the manifest schema: null-fill absent columns,
    fix the column order. Extra df columns are dropped (they belong to
    a NEWER schema than the snapshot being read) — except the ones
    named in ``extras`` (the with_pos introspection columns), which
    are appended after the schema columns."""
    if schema is None:
        return df
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField

    cols = []
    have = set(df.columns)
    for f in schema["fields"]:
        if f["name"] in have:
            cols.append(F.col(f["name"]))
        else:
            dt = StructField.fromJson(f).dataType
            cols.append(F.lit(None).cast(dt).alias(f["name"]))
    for name in extras:
        cols.append(F.col(name))
    return df.select(*cols)


def snapshot_create(df: DataFrame, path: str,
                    partition_col: str | None = None,
                    commit_id: str | None = None,
                    bloom_cols: list[str] | None = None,
                    partition_transform: tuple | None = None,
                    checks: list[str] | None = None,
                    *, _skip_empty: bool = False) -> int | None:
    """Create the table: snapshot 0 holds df's rows. ``partition_col``
    (optional) sets the copy-on-write granularity for later upserts and
    the manifest's file-pruning key. ``bloom_cols`` (optional, a TABLE
    property inherited by every later commit) adds a per-file Bloom
    filter on each named int/string column — the point-lookup
    complement of the min/max stats: an equality predicate skips files
    even when the table isn't clustered on the column.

    ``partition_transform=(kind, n, source_col)`` declares HIDDEN
    partitioning (Iceberg's bucket[N] / truncate[W] transforms,
    mutually exclusive with ``partition_col``): writes derive each
    row's partition from ``source_col`` automatically, and reads prune
    files from ``where``/``where_eq`` predicates on the SOURCE column —
    callers never name a partition value. ``('bucket', 8, 'user_id')``
    hash-buckets point lookups (min/max stats can't prune a hash
    layout; the transform can); ``('truncate', 1000, 'id')`` gives
    range-prunable coarse bins (ints floor toward -inf, strings keep
    the leading W chars). Source column must be integer or string. V1
    verbs: append/read/prune/compact/deletes; upsert/merge/evolution/
    rewrites refuse (q183; tests/test_tables.py).

    ``checks`` (optional) declares write-time CHECK constraints — SQL
    boolean expressions over the table's columns, enforced on EVERY
    later write's input rows (create/append/upsert/merge; q196): a
    violating batch refuses atomically with per-check violation counts
    before any file lands, NULL results counting as violations
    (Delta/ANSI CHECK semantics). A table property of the manifest,
    set once at create and carried by every later commit (see
    :func:`_validate_checks`): the checks land with the create's own
    commit, so a refused or crashed create leaves no constraint set
    behind, and a ``commit_id`` replay declaring different checks than
    the replayed commit's raises instead of rewriting them.

    ``_skip_empty`` (the streaming sink's) commits nothing and returns
    None when df turns out to have no rows."""
    os.makedirs(path, exist_ok=True)
    checks = list(checks or [])
    done = _replay(path, commit_id)
    if done is not None:
        created_with = list(_load_manifest(path, done).get("checks") or [])
        if checks != created_with:
            raise ValueError(
                f"snapshot_create replay of {commit_id!r} declares "
                f"checks {checks} but the table was created with "
                f"{created_with}; checks are set once, at create")
        return done
    _validate_checks(df, checks, "snapshot_create")
    tr = None
    if partition_transform is not None:
        if partition_col is not None:
            raise ValueError(
                "partition_col and partition_transform are mutually "
                "exclusive (the transform derives the partition)")
        tr = _parse_transform(partition_transform)
        dtypes = dict(df.dtypes)
        if tr["source"] not in dtypes:
            raise ValueError(
                f"transform source column {tr['source']!r} is not in "
                f"the DataFrame ({sorted(dtypes)})")
        src_type = dtypes[tr["source"]]
        if src_type != "string" and not src_type.startswith(
                ("tinyint", "smallint", "int", "bigint")):
            raise ValueError(
                f"transform source column must be integer or string, "
                f"got {src_type!r} (float partition values are not "
                "engine-stable)")
        partition_col = _transform_name(tr)
    files = _write_files(df, path, partition_col, bloom_cols,
                         transform=tr, skip_empty=_skip_empty)
    if files is None:
        return None
    return _commit(path, files, None, None, commit_id,
                   partition_col=partition_col, partition_transform=tr,
                   schema=_schema_dict(df), bloom_cols=bloom_cols,
                   checks=checks)


def snapshot_files(path: str, snapshot: int | None = None,
                   partitions: list | None = None,
                   where: list | None = None,
                   where_eq: list | None = None,
                   where_any: tuple | None = None) -> list[dict]:
    """The manifest entries a read would scan, after driver-side
    pruning — ``partitions`` selects by partition value, ``where`` is a
    list of ``(col, lo, hi)`` range predicates evaluated against the
    per-file column stats (None bound = open), ``where_eq`` is a list
    of ``(col, value)`` equality predicates evaluated against the
    per-file Bloom filters (point-lookup skipping on bloom_cols
    tables), and ``where_any`` is ``(col, [(lo, hi), ...])`` — a
    DISJUNCTION of closed ranges on one column, kept iff the file's
    stats overlap ANY of them (the OR-of-ranges shape a Z-order AOI
    cover produces: geo/cells.py:cell_ranges_for_rect → file skipping,
    q146). Pruning is lossless: a file with no stats/bloom for
    ``col`` always survives, and Bloom membership only ever
    false-positives. Exposed so tests and tools can PIN the skip count
    instead of asserting it."""
    sid = current_snapshot(path) if snapshot is None else int(snapshot)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, sid)
    files = man["files"]
    tr = man.get("partition_transform")
    if tr is not None:
        # hidden-partition pruning: predicates on the transform's
        # SOURCE column map through the transform driver-side. This is
        # what stats can't do on a bucket layout (each bucket file's
        # min/max spans the whole key range) and stays LOSSLESS: the
        # transform is total, so every row matching the predicate lives
        # in a kept partition. Old-spec files (none in V1 — transforms
        # are create-only — but spec identity is cheap to honor) always
        # survive. `where` ranges map only through truncate on
        # NON-string sources (truncate is monotone on ints; a hash
        # bucket has no order to exploit, and string prefix-ranges fall
        # back to the per-file min/max stats below).
        pcol = man["partition_col"]
        for col, val in (where_eq or []):
            if col != tr["source"]:
                continue
            want = str(_transform_value(tr, val))
            files = [f for f in files
                     if f.get("spec_col", pcol) != pcol
                     or f["partition"] == want]
        if tr["kind"] == "truncate":
            for col, lo, hi in (where or []):
                if col != tr["source"] or isinstance(lo, str) \
                        or isinstance(hi, str):
                    continue
                lo_t = None if lo is None else _transform_value(tr, lo)
                hi_t = None if hi is None else _transform_value(tr, hi)
                kept = []
                for f in files:
                    if (f.get("spec_col", pcol) != pcol
                            or f["partition"] is None):
                        kept.append(f)
                        continue
                    p = int(f["partition"])
                    if (lo_t is None or p >= lo_t) and \
                            (hi_t is None or p <= hi_t):
                        kept.append(f)
                files = kept
    if partitions is not None:
        want = {str(v) for v in partitions}
        pcol = man["partition_col"]
        # spec-aware (q158): a file written under an OLDER partition
        # spec cannot be pruned by values of the current one — it
        # always survives (candidate pruning stays lossless; the
        # caller's real filter does the rest, Iceberg's contract)
        files = [f for f in files
                 if f.get("spec_col", pcol) != pcol
                 or f["partition"] in want]
    for col, lo, hi in (where or []):
        kept = []
        for f in files:
            nu = (f.get("nulls") or {}).get(col)
            if nu is not None and f["rows"] > 0 and nu == f["rows"]:
                # the column is NULL in every row of this file: a range
                # predicate can never match — skipping is LOSSLESS even
                # though there are no min/max stats to compare
                continue
            st = (f.get("stats") or {}).get(col)
            if st is None or (
                (hi is None or st[0] <= hi)
                and (lo is None or st[1] >= lo)
            ):
                kept.append(f)
        files = kept
    for col, val in (where_eq or []):
        kept = []
        for f in files:
            bl = (f.get("blooms") or {}).get(col)
            if bl is None or _bloom_maybe_contains(bl, val):
                kept.append(f)
        files = kept
    if where_any is not None:
        col, ranges = where_any
        kept = []
        for f in files:
            st = (f.get("stats") or {}).get(col)
            if st is None or any(
                st[0] <= hi and st[1] >= lo for lo, hi in ranges
            ):
                kept.append(f)
        files = kept
    return files


def snapshot_as_of(path: str, ts_us: int) -> int:
    """AS-OF-TIMESTAMP time travel (Iceberg's ``FOR SYSTEM_TIME AS
    OF``): the newest snapshot whose commit stamp is <= ``ts_us``
    (epoch micros). Commit stamps are forced strictly increasing at
    _commit, so the resolution is total-ordered; raises when the
    timestamp predates the table (or predates every still-retained
    manifest after expiry — expired history is honestly gone)."""
    best = None
    for sid in list_snapshots(path):
        ts = _load_manifest(path, sid).get("committed_at_us")
        if ts is not None and int(ts) <= int(ts_us):
            best = sid
    if best is None:
        raise ValueError(
            f"no snapshot at {path} committed at or before {ts_us}"
        )
    return best


def read_snapshot(spark: SparkSession, path: str,
                  snapshot: int | None = None,
                  partitions: list | None = None,
                  where: list | None = None,
                  where_eq: list | None = None,
                  where_any: tuple | None = None,
                  tag: str | None = None,
                  branch: str | None = None,
                  as_of_us: int | None = None,
                  with_pos: bool = False) -> DataFrame:
    """Read a snapshot — the CURRENT one by default, or any committed id
    (time travel: snapshots are immutable, so s_n reads the same bytes
    forever). ``partitions`` (values of partition_col) and ``where``
    (``[(col, lo, hi), ...]`` stats ranges) prune FILES from the
    manifest driver-side before the scan is even planned; ``where`` is
    candidate pruning — apply the real filter on the result. The scan
    merges heterogeneous file schemas (add-column evolution) and
    projects to the schema RECORDED in the snapshot's manifest.
    ``tag`` / ``branch`` resolve a named ref (:func:`snapshot_tag` /
    :func:`snapshot_branch`) and ``as_of_us`` resolves by commit
    timestamp (:func:`snapshot_as_of`) instead of a numeric id;
    passing more than one of snapshot/tag/branch/as_of_us is an
    error.

    ``with_pos=True`` appends ``_file`` (the manifest data-file name)
    and ``_pos`` (the row's ordinal within that file, from the parquet
    reader's honest ``_metadata.row_index``) — the introspection read
    that feeds :func:`snapshot_delete_positions`. It is the SLOW path
    (per-row filename extraction, the thing the seq-literal MoR design
    deliberately avoids — BENCH/table_mor.json) and exists for
    targeted position selection, not hot scans."""
    if sum(x is not None
           for x in (snapshot, tag, branch, as_of_us)) > 1:
        raise ValueError(
            "pass at most one of snapshot=, tag=, branch=, as_of_us=")
    if tag is not None:
        snapshot = resolve_tag(path, tag)
    if branch is not None:
        snapshot = resolve_branch(path, branch)
    if as_of_us is not None:
        snapshot = snapshot_as_of(path, as_of_us)
    sid = current_snapshot(path) if snapshot is None else int(snapshot)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, sid)
    files = snapshot_files(path, sid, partitions, where, where_eq,
                           where_any)
    paths = [os.path.join(_data_dir(path), f["name"]) for f in files]
    if not paths:
        # pruning emptied the candidate set: partition and stats pruning
        # are lossless, so zero surviving files PROVES the result is empty
        if (partitions is not None or where or where_eq or where_any) \
                and man.get("schema"):
            from pyspark.sql.types import StructField, StructType

            st = StructType.fromJson(man["schema"])
            if with_pos:
                from pyspark.sql.types import LongType, StringType

                st = StructType(
                    list(st.fields)
                    + [StructField("_file", StringType()),
                       StructField("_pos", LongType())])
            return spark.createDataFrame([], st)
        raise ValueError(f"snapshot {sid} has no files for {partitions}")
    dels = man.get("deletes") or []
    if dels or with_pos:
        df = _apply_deletes(spark, path, files, dels, with_pos=with_pos)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
    extras = ("_file", "_pos") if with_pos else ()
    return _align(df, man.get("schema"), extras=extras)


def _apply_deletes(spark: SparkSession, path: str,
                   entries: list[dict], dels: list[dict],
                   with_pos: bool = False) -> DataFrame:
    """Merge-on-read scan of ``entries`` with the manifest's row-level
    delete files applied. An EQUALITY delete applies to a row iff the
    row's FILE sequence number is older than the delete's (``file.seq
    < delete.seq``) — so rows re-appended after a delete survive it. A
    POSITION delete applies iff the row's (file, ordinal) is listed —
    file identity is the scope, so rewrites (fresh file names) end it
    with no seq arithmetic at all (Iceberg v2's two delete flavors).

    The per-row seq is a LITERAL: files are grouped by their seq
    (O(commits) groups) and each group scans with ``lit(seq)`` — zero
    per-row work, vs the obvious ``_metadata.file_path`` → dim-join
    alternative that cost ~4× the plain scan at 20M rows (measured,
    tools/table_mor_bench.py). Files NEWER than every delete bypass
    the anti joins entirely. Delete-key frames are bounded (targeted
    deletes) and broadcast; each distinct key column costs ONE
    broadcast left-anti join over the affected sub-union. A key column
    null-filled by schema evolution never matches (NULL ≠ key),
    matching Iceberg.

    Position deletes (and ``with_pos`` reads) DO pay the per-row
    ``_metadata`` attachment across the scan while one is PENDING
    (driver-known from the manifest entry's ``files`` list ∩ this
    read's candidate files — a pos delete whose targets were all
    rewritten costs nothing). Compaction / upsert materialize pos
    deletes exactly like equality ones, which retires the cost —
    position deletes are targeted and short-lived by contract."""
    from pyspark.sql import functions as F

    ddir = _data_dir(path)
    have_names = {e["name"] for e in entries}
    eq_dels = [d for d in dels if d.get("kind") != "pos"]
    pos_dels = [
        d for d in dels
        if d.get("kind") == "pos" and have_names & set(d.get("files", []))
    ]
    pos_targets = set()
    for d in pos_dels:
        pos_targets |= set(d.get("files", [])) & have_names

    def _attach(df: DataFrame) -> DataFrame:
        return df.withColumns({
            "__file": F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1),
            "__pos": F.col("_metadata.row_index"),
        })

    max_dseq = max((int(d["seq"]) for d in eq_dels), default=0)
    by_seq: dict = {}
    for e in entries:
        by_seq.setdefault(int(e.get("seq", 0)), []).append(
            os.path.join(ddir, e["name"])
        )

    def _scan_union(groups: list) -> DataFrame | None:
        out = None
        for seq, paths in groups:
            part = spark.read.option("mergeSchema", "true").parquet(*paths)
            if with_pos or pos_targets:
                part = _attach(part)
            part = part.withColumn(
                "__seq", F.lit(int(seq)).cast("long"))
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True)
        return out

    groups = sorted(by_seq.items())
    affected = _scan_union([g for g in groups if g[0] < max_dseq])
    clean = _scan_union([g for g in groups if g[0] >= max_dseq])
    if affected is not None and eq_dels:
        by_col: dict = {}
        for d in eq_dels:
            by_col.setdefault(d["key_col"], []).append(d)
        for col, group in by_col.items():
            keys = None
            for d in group:
                k = spark.read.parquet(
                    os.path.join(ddir, d["name"])
                ).select(
                    F.col(col).alias("__delkey"),
                    F.lit(int(d["seq"])).alias("__dseq"),
                )
                keys = k if keys is None else keys.unionByName(k)
            # manifest records n_keys per delete file, so the broadcast
            # decision is driver-side and exact: hint only when the key
            # set is broadcast-sized, else let AQE pick a shuffle anti
            # join (a mass delete must not OOM the driver)
            if sum(int(d.get("n_keys", 0)) for d in group) <= 2_000_000:
                keys = F.broadcast(keys)
            affected = affected.join(
                keys,
                on=(F.col(col) == F.col("__delkey"))
                & (F.col("__seq") < F.col("__dseq")),
                how="left_anti",
            )
    if affected is None:
        df = clean
    elif clean is None:
        df = affected
    else:
        df = affected.unionByName(clean, allowMissingColumns=True)
    if pos_dels:
        keys = None
        for d in pos_dels:
            k = spark.read.parquet(
                os.path.join(ddir, d["name"])
            ).select(F.col("file").alias("__dfile"),
                     F.col("pos").alias("__dpos"))
            keys = k if keys is None else keys.unionByName(k)
        if sum(int(d.get("n_keys", 0)) for d in pos_dels) <= 2_000_000:
            keys = F.broadcast(keys)
        df = df.join(
            keys,
            on=(F.col("__file") == F.col("__dfile"))
            & (F.col("__pos") == F.col("__dpos")),
            how="left_anti",
        )
    df = df.drop("__seq")
    if with_pos:
        df = df.withColumnsRenamed({"__file": "_file", "__pos": "_pos"})
    elif pos_targets:
        df = df.drop("__file", "__pos")
    return df


def snapshot_delete(path: str, key_col: str, keys: list,
                    commit_id: str | None = None) -> int:
    """Row-level DELETE as an equality-delete file — Iceberg v2's
    merge-on-read delete path: the commit writes ONLY the key list
    (O(deleted keys), never a data-file rewrite) plus a manifest whose
    data files are all carried by reference. Readers subtract matching
    rows at scan time (:func:`_apply_deletes`); sequence numbers scope
    the delete to files committed BEFORE it, so a later re-append of
    the same key is visible. Copy-on-write rewrites (upsert, compact)
    MATERIALIZE applicable deletes into the files they rewrite — the
    delete entries stay carried, but rewritten files' fresh seq puts
    them out of scope. Time travel composes: older manifests don't
    reference the delete file. ``commit_id`` makes replays no-ops."""
    import pyarrow as _pa
    import pyarrow.parquet as _papq

    done = _replay(path, commit_id)
    if done is not None:
        return done
    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    schema = man.get("schema")
    if schema is not None and key_col not in {
        f["name"] for f in schema.get("fields", [])
    }:
        raise ValueError(
            f"delete key column {key_col!r} is not a table column"
        )
    keys = list(keys)
    if not keys:
        return cur
    name = f"delete-{_uuid.uuid4().hex[:12]}.parquet"
    os.makedirs(_data_dir(path), exist_ok=True)
    dest = os.path.join(_data_dir(path), name)
    _papq.write_table(_pa.table({key_col: keys}), dest)
    entry = {
        "name": name,
        "key_col": key_col,
        "n_keys": len(keys),
        "bytes": os.path.getsize(dest),
    }
    return _commit(path, man["files"], man, cur, commit_id,
                   deletes=list(man.get("deletes") or []) + [entry])


def snapshot_history(spark: SparkSession, path: str) -> DataFrame:
    """The table's HISTORY as a queryable DataFrame — Iceberg's
    ``snapshots``/``history`` metadata tables in one: one row per
    committed snapshot with its parent, commit_id, file/partition/row/
    byte totals, the rows ADDED by that commit (files whose seq == the
    snapshot id), pending row-level delete count, and the commit
    timestamp. Built entirely from manifests (driver-side,
    O(snapshots·files) metadata — no data file is opened, the
    :func:`snapshot_metadata_agg` discipline). Row counts are MANIFEST
    semantics: a merge-on-read delete commit does NOT decrease
    ``n_rows`` (the files still hold the rows; readers subtract) —
    that's the honest Iceberg reading of a v2 table."""
    rows = []
    for sid in list_snapshots(path):
        man = _load_manifest(path, sid)
        files = man.get("files") or []
        rows.append((
            sid,
            man.get("parent"),
            man.get("commit_id"),
            len(files),
            len({f.get("partition") for f in files}),
            sum(int(f.get("rows", 0)) for f in files),
            sum(int(f.get("bytes", 0)) for f in files),
            sum(int(f.get("rows", 0)) for f in files
                if int(f.get("seq", 0)) == sid),
            len(man.get("deletes") or []),
            man.get("committed_at_us"),
        ))
    return spark.createDataFrame(
        rows,
        "snapshot long, parent long, commit_id string, n_files long, "
        "n_partitions long, n_rows long, n_bytes long, added_rows long, "
        "n_deletes long, committed_at_us long",
    )


def snapshot_files_df(spark: SparkSession, path: str,
                      snapshot: int | None = None) -> DataFrame:
    """One snapshot's FILE manifest as a queryable DataFrame —
    Iceberg's ``files`` metadata table: name, partition value, bytes,
    rows, the sequence number that introduced the file, and the
    partition-spec column it was written under. Driver-side metadata
    only (the manifest IS the answer)."""
    sid = current_snapshot(path) if snapshot is None else int(snapshot)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, sid)
    rows = [
        (
            f["name"],
            None if f.get("partition") is None else str(f["partition"]),
            int(f.get("bytes", 0)),
            int(f.get("rows", 0)),
            int(f.get("seq", 0)),
            f.get("spec_col"),
        )
        for f in (man.get("files") or [])
    ]
    return spark.createDataFrame(
        rows,
        "name string, partition string, n_bytes long, n_rows long, "
        "seq long, spec_col string",
    )


def snapshot_delete_positions(path: str, positions: list,
                              commit_id: str | None = None) -> int:
    """Row-level DELETE by POSITION — Iceberg v2's second merge-on-read
    delete flavor: the commit writes only ``(file, pos)`` pairs
    (``pos`` = the row's ordinal within the named data file, as
    reported by ``read_snapshot(with_pos=True)``), never a data-file
    rewrite. Scope is FILE IDENTITY, not sequence numbers: a rewrite
    (upsert/compact/rewrite_sorted) reads through
    :func:`_apply_deletes`, so its output materializes the delete, and
    its fresh file names end the delete's applicability — re-appended
    rows can never be retro-deleted because they live in new files.

    ``positions`` is a list of ``(file_name, pos)`` tuples (targeted
    deletes, O(deleted rows) driver-side — same contract as
    :func:`snapshot_delete`'s key list). File names must belong to the
    current snapshot; unknown names raise rather than silently no-op.
    ``commit_id`` makes replays repoint instead of re-committing."""
    import pyarrow as _pa
    import pyarrow.parquet as _papq

    done = _replay(path, commit_id)
    if done is not None:
        return done
    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    positions =[(str(f), int(p)) for f, p in positions]
    if not positions:
        return cur
    have = {f["name"] for f in man["files"]}
    unknown = {f for f, _ in positions} - have
    if unknown:
        raise ValueError(
            f"position delete targets files not in snapshot {cur}: "
            f"{sorted(unknown)[:3]}"
        )
    name = f"posdelete-{_uuid.uuid4().hex[:12]}.parquet"
    os.makedirs(_data_dir(path), exist_ok=True)
    dest = os.path.join(_data_dir(path), name)
    _papq.write_table(
        _pa.table({
            "file": [f for f, _ in positions],
            "pos": [p for _, p in positions],
        }),
        dest,
    )
    entry = {
        "name": name,
        "kind": "pos",
        "files": sorted({f for f, _ in positions}),
        "n_keys": len(positions),
        "bytes": os.path.getsize(dest),
    }
    return _commit(path, man["files"], man, cur, commit_id,
                   deletes=list(man.get("deletes") or []) + [entry])


def snapshot_metadata_agg(spark: SparkSession, path: str,
                          cols: list | None = None,
                          snapshot: int | None = None,
                          null_cols: list | None = None) -> DataFrame:
    """Metadata-only aggregation: per-partition COUNT(*) / MIN / MAX
    answered from the MANIFEST alone — zero data files opened
    (Iceberg's ``SELECT count(*)`` metadata shortcut / metadata
    tables). Every manifest entry already carries the exact per-file
    row count and exact footer ``[min, max]`` stats (_file_stats), so
    the fold is driver-side over O(files) of JSON: at 100 TB a table
    row count is a metadata read, not a scan.

    Returns one row per partition value (a single NULL-partition row
    for unpartitioned tables): ``(partition, n_files, n_rows,
    min_<c>, max_<c>, ...)`` for each requested stats column.

    Exactness contract: raises ``ValueError`` if ANY file lacks stats
    for a requested column — stats absence means "cannot answer",
    never "empty" (the same rule that keeps pruning lossless). Row
    counts need no stats and are always answerable. ``null_cols`` adds
    exact per-partition ``nulls_<c>`` columns from the footer null
    counts (same every-file-or-raise contract). Time travel via
    ``snapshot`` composes: each manifest is immutable."""
    sid = current_snapshot(path) if snapshot is None else int(snapshot)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, sid)
    if man.get("deletes"):
        raise ValueError(
            "snapshot has row-level deletes pending: manifest counts "
            "would overcount deleted rows — compact/rewrite first"
        )
    if _mixed_spec(man):
        raise ValueError(
            "table has files under mixed partition specs (evolution "
            "pending): per-partition rows would mix two specs' values "
            "— run snapshot_rewrite_partitions first"
        )
    cols = list(cols or [])
    null_cols = list(null_cols or [])
    acc: dict = {}
    for f in man["files"]:
        pv = f["partition"]
        a = acc.setdefault(
            pv, [0, 0, {c: None for c in cols},
                 {c: 0 for c in null_cols}])
        a[0] += 1
        a[1] += int(f["rows"])
        for c in cols:
            st = (f.get("stats") or {}).get(c)
            if st is None:
                raise ValueError(
                    f"file {f['name']} has no stats for column {c!r}: "
                    "metadata aggregation cannot answer exactly"
                )
            cur = a[2][c]
            a[2][c] = (
                [st[0], st[1]] if cur is None
                else [min(cur[0], st[0]), max(cur[1], st[1])]
            )
        for c in null_cols:
            nu = (f.get("nulls") or {}).get(c)
            if nu is None:
                raise ValueError(
                    f"file {f['name']} has no null count for column "
                    f"{c!r}: metadata aggregation cannot answer exactly"
                )
            a[3][c] += int(nu)
    from pyspark.sql import types as T

    def _stat_type(c):
        for a in acc.values():
            st = a[2][c]
            if st is not None and any(
                isinstance(v, float) for v in st
            ):
                return T.DoubleType()
        return T.LongType()

    fields = [
        T.StructField("partition", T.StringType()),
        T.StructField("n_files", T.LongType()),
        T.StructField("n_rows", T.LongType()),
    ]
    for c in cols:
        t = _stat_type(c)
        fields += [T.StructField(f"min_{c}", t),
                   T.StructField(f"max_{c}", t)]
    for c in null_cols:
        fields += [T.StructField(f"nulls_{c}", T.LongType())]
    rows = []
    for pv in sorted(acc, key=lambda v: (v is None, v)):
        n_files, n_rows, stats, nulls = acc[pv]
        row = [pv, n_files, n_rows]
        for c in cols:
            st = stats[c]
            row += [st[0], st[1]]
        for c in null_cols:
            row += [nulls[c]]
        rows.append(tuple(row))
    return spark.createDataFrame(rows, T.StructType(fields))


def snapshot_changes(spark: SparkSession, path: str,
                     from_snapshot: int,
                     to_snapshot: int | None = None) -> DataFrame:
    """Incremental read: the rows APPENDED between two committed
    snapshots — the manifest diff (files in ``to`` but not ``from``)
    read directly, so a backfill or a downstream stream consumes
    exactly the new bytes, never rescanning the table. Result uses the
    ``to`` snapshot's schema (add-column evolution composes: rows
    appended before a column existed null-fill it).

    Contract (same as Iceberg's incremental APPEND scan): every file of
    ``from`` must still be referenced by ``to`` — a copy-on-write
    upsert or compaction in the range rewrote history, and "what
    changed" is no longer representable as rows, so this raises rather
    than silently double-counting survivors of a rewrite."""
    to_sid = current_snapshot(path) if to_snapshot is None \
        else int(to_snapshot)
    man_from = _load_manifest(path, int(from_snapshot))
    man_to = _load_manifest(path, to_sid)
    old = {f["name"] for f in man_from["files"]}
    to_names = {f["name"] for f in man_to["files"]}
    gone = old - to_names
    if gone:
        raise ValueError(
            f"incremental read {from_snapshot}->{to_sid} crosses a "
            f"rewrite ({len(gone)} file(s) of the older snapshot were "
            "rewritten); only append-only ranges are row-representable"
        )
    old_dels = {d["name"] for d in (man_from.get("deletes") or [])}
    new_dels = [d for d in (man_to.get("deletes") or [])
                if d["name"] not in old_dels]
    if new_dels:
        raise ValueError(
            f"incremental read {from_snapshot}->{to_sid} crosses "
            f"{len(new_dels)} equality-delete commit(s); appended rows "
            "alone cannot represent deletions (append-only contract)"
        )
    new = [f for f in man_to["files"] if f["name"] not in old]
    schema = man_to.get("schema")
    if not new:
        from pyspark.sql.types import StructType

        if schema is None:
            raise ValueError(
                f"snapshots {from_snapshot} and {to_sid} reference the "
                "same files and no schema is recorded"
            )
        return spark.createDataFrame([], StructType.fromJson(schema))
    paths = [os.path.join(_data_dir(path), f["name"]) for f in new]
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    return _align(df, schema)


def snapshot_append(df: DataFrame, path: str,
                    commit_id: str | None = None,
                    publish: bool = True,
                    branch: str | None = None,
                    *, _skip_empty: bool = False) -> int | None:
    """Append-only commit: write df's rows as new files and reference
    them ALONGSIDE every current file — zero reads, zero rewrites, the
    log/fact-table ingest op (a minutely micro-batch costs exactly its
    own bytes). Key-unique tables want :func:`snapshot_upsert` instead;
    appends are what :func:`snapshot_compact` exists to clean up after.

    ``publish=False`` STAGES the commit (write-audit-publish): the
    manifest exists and ``read_snapshot(snapshot=sid)`` can audit it,
    but ``_CURRENT`` doesn't move until :func:`snapshot_publish` —
    readers never see an unaudited batch. A staged snapshot must be
    published or abandoned before further writes (publish enforces
    fast-forward); an abandoned one is reclaimed by expire + vacuum.

    ``branch=name`` commits on a BRANCH (:func:`snapshot_branch`):
    the parent is the branch head, the branch pointer advances, and
    main never moves — multi-commit WAP. Replays (``commit_id``)
    fast-forward the branch, never main. Publish the run with
    :func:`snapshot_fast_forward`.

    An empty df still commits (a frontier may need to move);
    ``_skip_empty`` (the streaming sink's) commits nothing and returns
    None instead."""
    done = _replay(path, commit_id, branch, publish)
    if done is not None:
        return done
    cur = current_snapshot(path) if branch is None \
        else resolve_branch(path, branch)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    _validate_checks(df, man.get("checks"), "snapshot_append")
    schema = _merged_schema(man.get("schema"), df)
    new_files = _write_files(df, path, man["partition_col"],
                             man.get("bloom_cols"),
                             transform=man.get("partition_transform"),
                             skip_empty=_skip_empty)
    if new_files is None:
        return None
    sid = _commit(path, man["files"] + new_files, man, cur, commit_id,
                  publish=publish and branch is None, schema=schema)
    if branch is not None:
        _point_branch(path, branch, sid)
    return sid


def snapshot_upsert(updates: DataFrame, path: str, key: str,
                    version_col: str | None = None,
                    commit_id: str | None = None,
                    *, _skip_empty: bool = False) -> int | None:
    """Copy-on-write MERGE: last-writer-wins upsert of ``updates`` into
    the current snapshot, rewriting only the partitions the batch
    touches — files of untouched partitions are CARRIED OVER by
    reference in the new manifest (zero read, zero write), and every
    prior snapshot stays readable (q58 gates the carried files' bytes).

    ``updates`` must carry the table's partition_col. Key-uniqueness per
    operators/incremental.py:upsert's contract; pass ``version_col`` for
    unconditional out-of-order-safe LWW. ``commit_id`` makes replays
    no-ops (exactly-once foreachBatch sinks).

    ``_skip_empty`` (the streaming sinks') commits nothing and returns
    None when the merged frame has no rows. On a partitioned table that
    is exactly an empty batch: the prior side is restricted to the
    partitions the batch touches, so no separate emptiness probe runs."""
    from osmcha_spark.operators.incremental import upsert

    spark = updates.sparkSession
    done = _replay(path, commit_id)
    if done is not None:
        return done
    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    _require_no_transform(man, "snapshot_upsert")
    _validate_checks(updates, man.get("checks"), "snapshot_upsert")
    pcol = man["partition_col"]
    bloom_cols = man.get("bloom_cols")
    schema = _merged_schema(man.get("schema"), updates)
    updates = _align(updates, schema)
    if pcol is None:
        prior = _align(read_snapshot(spark, path, cur), schema)
        merged = upsert(prior, updates, key, version_col=version_col)
        files = _write_files(merged, path, None, bloom_cols,
                             skip_empty=_skip_empty)
        if files is None:
            return None
        # full rewrite: every applicable delete is materialized, so the
        # delete entries need not be carried
        return _commit(path, files, man, cur, commit_id, schema=schema,
                       deletes=None)
    _require_single_spec(man, "snapshot_upsert")
    affected = {
        str(r[0]) for r in updates.select(pcol).distinct().collect()
    }
    carried = [f for f in man["files"] if f["partition"] not in affected]
    prior_entries = [f for f in man["files"] if f["partition"] in affected]
    if prior_entries:
        dels = man.get("deletes") or []
        if dels:
            # merge-on-read rewrite: applicable deletes materialize into
            # the rewritten partitions (their fresh seq ends the scope)
            prior = _apply_deletes(spark, path, prior_entries, dels)
        else:
            prior = spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(_data_dir(path), f["name"])
                  for f in prior_entries]
            )
        merged = upsert(_align(prior, schema), updates, key,
                        version_col=version_col)
    else:
        merged = updates
    new_files = _write_files(merged, path, pcol, bloom_cols,
                             skip_empty=_skip_empty)
    if new_files is None:
        return None
    return _commit(path, carried + new_files, man, cur, commit_id,
                   schema=schema)


def snapshot_merge_into(source: DataFrame, path: str, key: str,
                        delete_condition: str | None = None,
                        update_condition: str | None = None,
                        insert: bool = True,
                        commit_id: str | None = None) -> int:
    """MERGE INTO with clause semantics — the general lakehouse write
    verb snapshot_upsert's last-writer-wins is a special case of.
    Matched target rows are resolved in Delta/Iceberg clause order:

      1. matched AND ``delete_condition``            -> row removed
      2. matched AND ``update_condition`` (def true) -> source row wins
      3. matched, neither condition met              -> target row kept
      4. source-only                                 -> inserted iff
                                                        ``insert``

    Conditions are SQL strings over the aliases ``s`` (source) and
    ``t`` (target), e.g. ``"s.cents < t.cents"``. The reference has no
    table writes at all (osmcha/changeset.py is read-only over the API);
    this is engine-mandate territory like the rest of the format.

    Scale shape: identical to snapshot_upsert — only partitions the
    source touches are rewritten (ONE full-outer join per batch, both
    sides pruned to the affected partitions); untouched partitions are
    carried by file REFERENCE. Pending equality deletes materialize
    into the rewritten partitions through ``_apply_deletes`` (their
    fresh seq ends the delete's scope — the q143 contract). ``source``
    must carry the table's partition_col with partition-stable keys
    (a key never changes partitions), the same contract as upsert.
    ``commit_id`` makes replays repoint-only no-ops."""
    from pyspark.sql import functions as F

    spark = source.sparkSession
    done = _replay(path, commit_id)
    if done is not None:
        return done
    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    _require_no_transform(man, "snapshot_merge_into")
    _validate_checks(source, man.get("checks"), "snapshot_merge_into")
    pcol = man["partition_col"]
    bloom_cols = man.get("bloom_cols")
    schema = _merged_schema(man.get("schema"), source)
    source = _align(source, schema)

    if pcol is None:
        carried: list[dict] = []
        prior_entries = list(man["files"])
        carried_deletes = None  # full rewrite materializes every delete
    else:
        _require_single_spec(man, "snapshot_merge_into")
        affected = {
            str(r[0]) for r in source.select(pcol).distinct().collect()
        }
        carried = [f for f in man["files"] if f["partition"] not in affected]
        prior_entries = [f for f in man["files"]
                         if f["partition"] in affected]
        carried_deletes = man.get("deletes")

    if prior_entries:
        dels = man.get("deletes") or []
        if dels:
            prior = _apply_deletes(spark, path, prior_entries, dels)
        else:
            prior = spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(_data_dir(path), f["name"])
                  for f in prior_entries]
            )
        prior = _align(prior, schema)
    else:
        prior = _align(
            spark.createDataFrame([], source.schema), schema)

    t, s = prior.alias("t"), source.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"),
                    "full_outer")
    matched = F.col(f"t.{key}").isNotNull() & F.col(f"s.{key}").isNotNull()
    del_c = F.expr(delete_condition) if delete_condition else F.lit(False)
    upd_c = F.expr(update_condition) if update_condition else F.lit(True)
    keep = F.when(matched, ~del_c).otherwise(
        F.when(F.col(f"s.{key}").isNotNull(), F.lit(bool(insert)))
        .otherwise(F.lit(True)))
    take_s = F.when(matched, ~del_c & upd_c) \
        .otherwise(F.col(f"t.{key}").isNull())
    cols = [f.name for f in prior.schema.fields]
    merged = joined.where(keep).select(*[
        F.when(take_s, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        .alias(c) for c in cols
    ])
    new_files = _write_files(merged, path, pcol, bloom_cols)
    return _commit(path, carried + new_files, man, cur, commit_id,
                   schema=schema, deletes=carried_deletes)


def snapshot_compact(spark: SparkSession, path: str,
                     target_bytes: int = 128 * 1024 * 1024) -> int | None:
    """Bin-pack fragmented partitions into ceil(bytes/target) files and
    commit the result as a new snapshot; content is carried row-for-row
    and untouched partitions' files are carried by reference. Returns
    the new snapshot id, or None when nothing qualifies (the no-op).

    Self-stabilizing guard (Iceberg binpack's small-file threshold): a
    partition is affected only when its file count exceeds its bin count
    AND >= 2 of its files are < target/2 — written bins average >=
    target/2 by arithmetic, so a second run is always the no-op
    (idempotence without remembering state; a bare count-vs-bins rule
    would re-plan fewer bins on the freshly written, better-compressed
    files and rewrite forever)."""
    import math

    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    # group by (spec, partition value): under a pending partition
    # evolution (q158) same-valued partitions of DIFFERENT specs must
    # never bin-pack together — each group stamps its own spec back
    by_part: dict = {}
    for f in man["files"]:
        gkey = (f.get("spec_col", man["partition_col"]), f["partition"])
        by_part.setdefault(gkey, []).append(f)
    plan: dict = {}
    for gkey, files in by_part.items():
        total = sum(f["bytes"] for f in files)
        n_bins = max(1, math.ceil(total / target_bytes))
        n_small = sum(1 for f in files if f["bytes"] < target_bytes // 2)
        if len(files) > n_bins and n_small >= 2:
            plan[gkey] = n_bins
    if not plan:
        return None
    carried = [
        f for f in man["files"]
        if (f.get("spec_col", man["partition_col"]), f["partition"])
        not in plan
    ]
    new_files: list[dict] = []
    for gkey, n_bins in plan.items():
        spec_col, pval = gkey
        paths = [os.path.join(_data_dir(path), f["name"])
                 for f in by_part[gkey]]
        dels = man.get("deletes") or []
        if dels:
            part_raw = _apply_deletes(spark, path, by_part[gkey], dels)
        else:
            part_raw = spark.read.option("mergeSchema", "true").parquet(
                *paths)
        part_df = _align(part_raw, man.get("schema")).coalesce(n_bins)
        # one rewrite job per affected partition (bounded by the guard);
        # _write_files sees no hive dir here, so stamp the manifest
        # partition value explicitly
        batch = _write_files(part_df, path, None, man.get("bloom_cols"))
        for e in batch:
            e["partition"] = pval
            e["spec_col"] = spec_col
        new_files.extend(batch)
    return _commit(path, carried + new_files, man, cur, None)


def snapshot_rollback(path: str, snapshot: int) -> int:
    """Roll the table back: repoint ``_CURRENT`` at an earlier
    committed snapshot (Iceberg's rollback/set-current-snapshot — the
    bad-batch undo). Snapshots are immutable, so this is ONE pointer
    swap; nothing is deleted, and the abandoned newer snapshots stay
    time-travelable until :func:`expire_snapshots` reclaims them. A
    write after a rollback parents on the rolled-back snapshot,
    forking history exactly like Iceberg (the abandoned tip simply
    stops being anyone's parent)."""
    sid = int(snapshot)
    if not os.path.exists(_manifest_file(path, sid)):
        raise FileNotFoundError(f"no committed snapshot {sid} at {path}")
    _point_current(path, sid)
    return sid


def snapshot_evolve_partition(path: str, new_col: str | None,
                              commit_id: str | None = None) -> int:
    """Partition-spec evolution (Iceberg's ``ALTER TABLE ... WRITE
    ORDERED BY`` sibling, ``update-partition-spec``): change the column
    FUTURE writes partition by, as a METADATA-ONLY commit — every
    current file is carried by reference, zero data moves. Old files
    keep the spec they were written under (each manifest entry records
    its ``spec_col``), so:

    - ``partitions=`` pruning by new-spec values still prunes new-spec
      files exactly, while old-spec files always SURVIVE (candidate
      pruning stays lossless — Iceberg's exact contract);
    - partition-bounded rewrites (upsert / merge / metadata_agg) REFUSE
      while specs are mixed — "rewrite only the touched partitions" is
      ill-defined across two specs — directing to
      :func:`snapshot_rewrite_partitions`, the bounded materializer;
    - time travel to a pre-evolution snapshot sees the old spec (each
      manifest is immutable).

    ``new_col`` must exist in the recorded schema (it becomes the
    hive-split column of the next :func:`snapshot_append`); ``None``
    unpartitions future writes. Appends after evolution want the new
    column NON-NULL (a null partition value writes the hive default
    bucket). Reference: no counterpart (osmcha is read-only); this is
    the engine-mandate table layer, same as the rest of the format."""
    done = _replay(path, commit_id)
    if done is not None:
        return done
    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    _require_no_transform(man, "snapshot_evolve_partition")
    schema = man.get("schema")
    if new_col is not None and schema is not None:
        names = [f["name"] for f in schema.get("fields", [])]
        if new_col not in names:
            raise ValueError(
                f"partition column {new_col!r} is not in the table "
                f"schema {names}"
            )
    if new_col == man["partition_col"]:
        return cur  # no-op: the spec already is new_col
    return _commit(path, man["files"], man, cur, commit_id,
                   partition_col=new_col)


def snapshot_rewrite_partitions(spark: SparkSession, path: str,
                                commit_id: str | None = None) -> int | None:
    """Materialize a pending partition-spec evolution: rewrite ONLY the
    files written under an older spec into the current one; files
    already on the current spec are carried by reference (zero read,
    zero write). Returns the new snapshot id, or None when every file
    already matches (the idempotent no-op — run it twice, the second
    run does nothing).

    Pending equality deletes are applied to the rewritten (old-spec)
    files merge-on-read — their fresh file seqs end the delete's scope
    for exactly those rows, while the CARRIED delete entries keep
    masking the carried files (the q143 scoping contract, same as
    snapshot_upsert's partial rewrite). Cost is bounded by the
    old-spec bytes, not the table: after a spec change on a 100 TB
    table you pay for the history you migrate, never for the data that
    already landed under the new spec."""
    done = _replay(path, commit_id)
    if done is not None:
        return done
    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    _require_no_transform(man, "snapshot_rewrite_partitions")
    pcol = man["partition_col"]
    stale = [f for f in man["files"] if f.get("spec_col", pcol) != pcol]
    if not stale:
        return None
    carried = [f for f in man["files"] if f.get("spec_col", pcol) == pcol]
    dels = man.get("deletes") or []
    if dels:
        df = _apply_deletes(spark, path, stale, dels)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(_data_dir(path), f["name"]) for f in stale])
    df = _align(df, man.get("schema"))
    new_files = _write_files(df, path, pcol, man.get("bloom_cols"))
    return _commit(path, carried + new_files, man, cur, commit_id)


def snapshot_rewrite_sorted(spark: SparkSession, path: str,
                            sort_col: str,
                            target_bytes: int = 128 * 1024 * 1024,
                            commit_id: str | None = None) -> int:
    """Re-CLUSTER the whole table on ``sort_col`` (Iceberg's
    rewrite_data_files with a sort order): read the current snapshot
    (merge-on-read — pending equality deletes materialize, ending
    their scope), range-repartition on the column, and commit the
    result as a full-replacement snapshot. Content is carried
    row-for-row; what changes is WHICH file each row lives in — after
    the rewrite every file holds one contiguous ``sort_col`` range,
    so the manifest's per-file [min, max] stats (R99) and
    ``where``/``where_any`` pruning finally bite on a table that was
    written unclustered. Time travel keeps the old layout readable.

    The file count is sized from the CURRENT manifest's bytes
    (ceil(total/target) — driver-side metadata, no extra scan).
    Range boundaries come from Spark's range-partition sampling, so
    skewed keys still split evenly. At 100 TB this is the scheduled
    maintenance op Iceberg users run after bulk loads; here, one
    bounded job whose output supersedes every prior file."""
    import math

    done = _replay(path, commit_id)
    if done is not None:
        return done
    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    _require_no_transform(man, "snapshot_rewrite_sorted")
    total = sum(f["bytes"] for f in man["files"])
    n_files = max(1, math.ceil(total / target_bytes))
    from pyspark.sql import functions as F

    df = read_snapshot(spark, path, cur) \
        .repartitionByRange(n_files, F.col(sort_col))
    pcol = man["partition_col"]
    # one writer job; on a partitioned table the hive split inside
    # _write_files cuts each RANGE partition by value, so every file
    # still holds one contiguous sort_col range — clustering survives,
    # at the cost of up to ranges x values files
    files = _write_files(df, path, pcol, man.get("bloom_cols"))
    return _commit(path, files, man, cur, commit_id, deletes=None)


def snapshot_rewrite_hilbert(spark: SparkSession, path: str,
                             x_col: str, y_col: str, level: int,
                             target_bytes: int = 128 * 1024 * 1024,
                             commit_id: str | None = None) -> int:
    """Spatially re-CLUSTER the table on the Hilbert key of two integer
    grid columns (Iceberg/Delta's ``hilbert`` clustering verb, the
    sibling of :func:`snapshot_rewrite_sorted`'s single-column order):
    same full-replacement protocol — merge-on-read input, file count
    sized from the current manifest's bytes, time travel keeps the old
    layout — but the range partitioning runs on
    :func:`~osmcha_spark.geo.hilbert.hilbert_col`, so each rewritten
    file covers one contiguous stretch of the curve and its per-file
    [min, max] stats on BOTH coordinate columns stay tight (the
    measured 1.35× fewer files touched per AOI than a Morton layout,
    23× than unsorted — BENCH/hilbert_locality.json; pruning itself is
    unchanged, only the layout quality moves). The key is computed on
    the fly for partitioning and never stored — layout is physical,
    not schema."""
    import math

    from osmcha_spark.geo.hilbert import hilbert_col

    done = _replay(path, commit_id)
    if done is not None:
        return done
    cur = current_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    man = _load_manifest(path, cur)
    _require_no_transform(man, "snapshot_rewrite_hilbert")
    total = sum(f["bytes"] for f in man["files"])
    n_files = max(1, math.ceil(total / target_bytes))
    from pyspark.sql import functions as F

    key = hilbert_col(F.col(x_col), F.col(y_col), int(level))
    df = read_snapshot(spark, path, cur).repartitionByRange(n_files, key)
    pcol = man["partition_col"]
    files = _write_files(df, path, pcol, man.get("bloom_cols"))
    return _commit(path, files, man, cur, commit_id, deletes=None)


def expire_snapshots(path: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` manifests (the current one
    always survives) and vacuum files they exclusively referenced.
    Returns the expired ids. Bounded storage is what makes per-commit
    snapshots viable at a minutely ingest cadence. ``keep_last`` must
    be at least 1: the highest snapshot id holds the newest commit
    stamp that the next commit stamps past."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    sids = list_snapshots(path)
    cur = current_snapshot(path)
    keep = set(sids[-keep_last:]) | ({cur} if cur is not None else set())
    keep |= set(list_tags(path).values())  # tagged snapshots are refs
    keep |= set(list_branches(path).values())  # branch heads likewise
    expired = [s for s in sids if s not in keep]
    for s in expired:
        os.remove(_manifest_file(path, s))
    vacuum(path)
    return expired


def vacuum(path: str) -> list[str]:
    """Delete data files referenced by NO committed manifest (crash
    orphans from step (1), files released by expire_snapshots) plus any
    leftover staging dirs and manifest temps (a crash inside step (2)).
    Returns the removed file names."""
    referenced: set[str] = set()
    for sid in list_snapshots(path):
        man = _load_manifest(path, sid)
        for f in man["files"]:
            referenced.add(f["name"])
        for d in man.get("deletes") or []:
            referenced.add(d["name"])
    removed: list[str] = []
    ddir = _data_dir(path)
    if os.path.isdir(ddir):
        for name in os.listdir(ddir):
            if name.endswith(".parquet") and name not in referenced:
                os.remove(os.path.join(ddir, name))
                removed.append(name)
    sdir = _snapshots_dir(path)
    if os.path.isdir(sdir):
        for name in os.listdir(sdir):
            if ".json.tmp-" in name:
                os.remove(os.path.join(sdir, name))
                removed.append(name)
    for name in os.listdir(path):
        if name.startswith("_staging_"):
            _shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    return removed


def snapshot_replicate(src_path: str, dst_path: str) -> int | None:
    """Changelog-based table replication (the DR / region-mirror verb;
    Iceberg's "snapshot referencing + file copy" replication pattern):
    bring ``dst`` up to ``src``'s current snapshot by COPYING only the
    data files appended since the last replication — no Spark job, no
    row rewrite, no re-encode: manifest entries (stats, null counts,
    Bloom filters, partition values, spec) are cloned verbatim, so the
    replica prunes exactly like the primary. O(delta bytes) per call.

    Frontier = the ``repl-<src_sid>`` commit_id of dst's current
    manifest (:func:`_applied_frontier`; the mv_sync exactly-once
    discipline: a replay only heals a lost repoint by fast-forward,
    never re-copies; :func:`snapshot_history` lists the frontiers).
    First call = full copy of the current file set; the replica
    inherits src's table properties (spec, schema, bloom_cols, checks).
    Contract: append-only ranges, like :func:`snapshot_changes` — a
    rewrite/compaction or an equality/position delete on src inside
    the window makes the file diff non-representable and this RAISES
    (resync by replicating into a fresh dst); file NAMES are preserved
    (uuid-token unique by construction), so a re-copy after a crash
    mid-copy simply overwrites identical bytes — the commit point
    remains dst's manifest link, crash-safe like every other commit.

    Returns dst's new (or healed) snapshot id, or None when already
    up to date.
    """
    cur = current_snapshot(src_path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot at {src_path}")
    man = _load_manifest(src_path, cur)
    if man.get("deletes"):
        raise ValueError(
            "snapshot_replicate requires a delete-free source (row-"
            "level deletes are not representable as a file copy); "
            "materialize them first (compact/rewrite), then resync"
        )
    dst_cur = current_snapshot(dst_path)
    if _replay(dst_path, f"repl-{cur}") is not None:
        now = current_snapshot(dst_path)
        return now if now != dst_cur else None  # healed, or up to date
    if dst_cur is None:
        to_copy = list(man["files"])
        carried: list[dict] = []
        parent = None
    else:
        front = _applied_frontier(dst_path, "repl", 1)
        if front is None:
            raise ValueError(
                f"{dst_path} has no repl-* commit: not a "
                "snapshot_replicate-maintained replica")
        frontier = front[0]
        man_from = _load_manifest(src_path, frontier)
        old = {f["name"] for f in man_from["files"]}
        to_names = {f["name"] for f in man["files"]}
        gone = old - to_names
        if gone:
            raise ValueError(
                f"replication {frontier}->{cur} crosses a rewrite "
                f"({len(gone)} file(s) were rewritten); replicate "
                "into a fresh destination to resync"
            )
        to_copy = [f for f in man["files"] if f["name"] not in old]
        carried = _load_manifest(dst_path, dst_cur)["files"]
        parent = dst_cur

    os.makedirs(_data_dir(dst_path), exist_ok=True)
    for f in to_copy:
        _shutil.copyfile(
            os.path.join(_data_dir(src_path), f["name"]),
            os.path.join(_data_dir(dst_path), f["name"]),
        )
    new_entries = [dict(f) for f in to_copy]
    for e in new_entries:
        e.pop("seq", None)  # dst stamps its own data sequence numbers
    return _commit(dst_path, carried + new_entries, man, parent,
                   f"repl-{cur}")
