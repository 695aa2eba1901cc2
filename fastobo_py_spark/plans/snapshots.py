"""Iceberg-style snapshot layer over the plain-parquet output tables.

BASELINE.json names Iceberg as the table format; this sandbox has no
Iceberg runtime, so this module supplies the three Iceberg behaviors the
pipeline actually relies on, on plain parquet — with the same commit
semantics, not a simulation:

  * **snapshot isolation** — a batch's part files become visible to
    snapshot readers only when its snapshot JSON commits (one atomic
    POSIX rename). A reader resolving snapshot N never sees a
    half-written batch N+1.
  * **time travel** — every snapshot records the file-set DELTA plus a
    parent pointer (Iceberg's manifest-list structure); resolving a
    snapshot walks the chain, so ``read_table_at(..., snapshot_id=...)``
    or ``as_of_timestamp=...`` reads any retained historical state.
  * **schema evolution** — snapshots pin FILE SETS, so a column added by
    a later batch exists only in later files: time-travel reads of old
    snapshots return the old schema, current reads merge
    (``mergeSchema``), exactly Iceberg's add-column semantics for the
    append-only case.

Single-writer assumption (documented, as Iceberg assumes a catalog for
multi-writer): one pipeline commits at a time per output dir. Crash
windows are all safe-by-construction:

  * data files written, snapshot not committed → orphan files, invisible
    to snapshot readers. No writer adopts them (that would resurrect
    rolled-back batches — ``test_heal_does_not_resurrect_rolled_back_data``
    pins this); the batch's idempotent rerun re-ingests the same docs
    (its manifest append happens AFTER the snapshot commit, so the
    crashed batch was never recorded) and :func:`remove_orphan_files`
    reaps the debris out-of-band. No op here removes a file HEAD still
    references — compaction is :func:`rewrite_data_files` behind a
    replace snapshot, and only :func:`expire_snapshots` deletes the
    files that history alone references — so HEAD never points at a
    missing file and writers need no entry repair.
  * snapshot committed, HEAD not advanced → an unreferenced snapshot;
    the next commit parents from HEAD so the orphan snapshot is simply
    unreachable, and :func:`expire_snapshots` removes it.

Layout under ``<out_dir>/_snapshots/``::

    snap-<seq:08d>-<id>.json   one per commit (never rewritten)
    HEAD                       current snapshot id (tmp+rename updates)

Reference points (parity not port): Iceberg's spec — snapshots,
manifest lists, ``rewrite_data_files``, ``expireSnapshots``,
``removeOrphanFiles``; fastobo-py has no table format at all (it is a
parser library), so this whole module is north-rule scope
(`BASELINE.json: "Iceberg table of source-code repositories"`).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from fastobo_py_spark.operators.materialize import GRAPH_PARTITIONS

SNAP_DIR = "_snapshots"
TABLES = ("nodes", "edges")
# a merge source's distinct single-column key set at or below this size
# is collected and pushed into the probe scan as an In filter (file-level
# footer-stat skipping); above it the probe falls back to a semi-join
_MERGE_PUSHDOWN_KEYS = 1000


def _snap_root(out_dir: str) -> str:
    return os.path.join(out_dir, SNAP_DIR)


def _head_path(out_dir: str) -> str:
    return os.path.join(_snap_root(out_dir), "HEAD")


def _atomic_write(path: str, data: str) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(data)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, path)


def list_data_files(out_dir: str, tables: tuple = TABLES) -> dict[str, set[str]]:
    """Current physical part files per table, as out_dir-relative paths.
    The before/after diff of this listing is what a commit records as its
    delta (on a cluster, the FileCommitProtocol task manifest supplies
    this without a walk; locally the walk over the output tree is the
    equivalent and costs one readdir per partition leaf)."""
    out: dict[str, set[str]] = {}
    for t in tables:
        root = os.path.join(out_dir, t)
        files: set[str] = set()
        if os.path.isdir(root):
            for dirpath, _dirnames, filenames in os.walk(root):
                for f in filenames:
                    if f.endswith(".parquet"):
                        files.add(os.path.relpath(os.path.join(dirpath, f), out_dir))
        out[t] = files
    return out


def current_snapshot_id(out_dir: str) -> str | None:
    try:
        with open(_head_path(out_dir)) as fh:
            v = fh.read().strip()
            return v or None
    except FileNotFoundError:
        return None


def _snap_paths(out_dir: str) -> list[str]:
    root = _snap_root(out_dir)
    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, f)
        for f in os.listdir(root)
        if f.startswith("snap-") and f.endswith(".json")
    )


def list_snapshots(out_dir: str) -> list[dict]:
    """All retained snapshots, oldest first (sequence order)."""
    out = []
    for p in _snap_paths(out_dir):
        with open(p) as fh:
            out.append(json.load(fh))
    out.sort(key=lambda s: s["sequence"])
    return out


def _load_by_id(out_dir: str) -> dict[str, dict]:
    return {s["snapshot_id"]: s for s in list_snapshots(out_dir)}


def commit_snapshot(
    out_dir: str,
    added: dict[str, list[str]],
    removed: dict[str, list[str]] | None = None,
    op: str = "append",
    batch_id: str | None = None,
    parent_id: str | None = None,
    summary: dict | None = None,
    branch: str | None = None,
    delete_added: dict[str, list[str]] | None = None,
    delete_removed: dict[str, list[str]] | None = None,
) -> dict:
    """Commit one snapshot: write the JSON (atomic rename), then advance
    HEAD (second atomic rename). ``parent_id`` defaults to current HEAD —
    passing an older id makes this a rollback-style divergent commit.
    ``summary`` carries op-specific counters (Iceberg's snapshot summary
    map, e.g. deleted-row counts for a delete).

    ``branch``: commit to a named branch instead of main — the
    write-audit-publish staging gesture (Iceberg's ``wap.branch``). The
    parent defaults to the branch's head, or to current HEAD when the
    branch doesn't exist yet (auto-created, cut from main); the branch
    pointer advances and HEAD is untouched, so main readers never see
    unaudited data. Publish with :func:`fast_forward`, abandon with
    :func:`delete_branch`."""
    if branch is not None and (not branch or not isinstance(branch, str)):
        # validate BEFORE the snapshot JSON is written — failing in the
        # pointer update would leave an orphan snapshot behind
        raise ValueError("branch name must be a non-empty string")
    os.makedirs(_snap_root(out_dir), exist_ok=True)
    snaps = _load_by_id(out_dir)
    if parent_id is not None:
        parent = parent_id
    elif branch is not None:
        parent = list_branches(out_dir).get(branch, current_snapshot_id(out_dir))
    else:
        parent = current_snapshot_id(out_dir)
    if parent is not None and parent not in snaps:
        raise ValueError(f"parent snapshot {parent} not found")
    seq = (max((s["sequence"] for s in snaps.values()), default=0)) + 1
    sid = uuid.uuid4().hex[:12]
    snap = {
        "snapshot_id": sid,
        "sequence": seq,
        "parent_id": parent,
        "op": op,
        "batch_id": batch_id,
        "created_at_ms": int(time.time() * 1000),
        "added": {t: sorted(fs) for t, fs in (added or {}).items() if fs},
        "removed": {t: sorted(fs) for t, fs in (removed or {}).items() if fs},
        "summary": summary or {},
    }
    # equality-delete (merge-on-read) file deltas — omitted entirely when
    # unused so pre-MoR snapshot JSONs stay byte-stable
    if delete_added and any(delete_added.values()):
        snap["delete_added"] = {t: sorted(fs) for t, fs in delete_added.items() if fs}
    if delete_removed and any(delete_removed.values()):
        snap["delete_removed"] = {t: sorted(fs) for t, fs in delete_removed.items() if fs}
    _atomic_write(
        os.path.join(_snap_root(out_dir), f"snap-{seq:08d}-{sid}.json"),
        json.dumps(snap, indent=1),
    )
    if branch is None:
        _atomic_write(_head_path(out_dir), sid)
    else:
        _set_branch(out_dir, branch, sid)
    return snap


EQ_DELETE_DIR = "_eq_deletes"


def _chain(snaps: dict[str, dict], sid: str) -> list[dict]:
    chain = []
    cur: str | None = sid
    while cur is not None:
        s = snaps.get(cur)
        if s is None:
            raise ValueError(f"snapshot {cur} not found (expired or never committed)")
        chain.append(s)
        cur = s["parent_id"]
    return chain


def _resolve_with_seq(snaps: dict[str, dict], sid: str, table: str) -> dict[str, int]:
    """{data-file rel: sequence of the snapshot that added it} at ``sid``
    — the per-file ordinal Iceberg calls the data sequence number, which
    decides whether an equality delete applies to a file."""
    files: dict[str, int] = {}
    for s in reversed(_chain(snaps, sid)):
        for rel in s["added"].get(table, ()):
            files[rel] = int(s["sequence"])
        for rel in s["removed"].get(table, ()):
            files.pop(rel, None)
    return files


def _refuse_pending_deletes(out_dir: str, tables: tuple, op_name: str) -> None:
    """Maintenance ops that rewrite or re-sequence data files must not
    run over pending equality deletes: a rewritten file gets a NEW
    (higher) sequence, the sequence rule stops applying the delete to
    it, and the masked rows silently resurrect. Iceberg's guidance is
    the same — materialize/rewrite delete files first."""
    head = current_snapshot_id(out_dir)
    if head is None:
        return
    snaps = _load_by_id(out_dir)
    pending = [t for t in tables if _pending_deletes(snaps, head, t)]
    if pending:
        raise ValueError(
            f"{op_name} refused: pending equality deletes on {pending} would be "
            "re-sequenced and their masked rows resurrected — run "
            "materialize_deletes(spark, out_dir) first"
        )


def _pending_deletes(snaps: dict[str, dict], sid: str, table: str) -> list[tuple[str, int]]:
    """Equality-delete files still pending (committed, not yet
    materialized) at ``sid``, with their sequence numbers."""
    dels: dict[str, int] = {}
    for s in reversed(_chain(snaps, sid)):
        for rel in s.get("delete_added", {}).get(table, ()):
            dels[rel] = int(s["sequence"])
        for rel in s.get("delete_removed", {}).get(table, ()):
            dels.pop(rel, None)
    return sorted(dels.items())


def _resolve_from(snaps: dict[str, dict], sid: str, table: str) -> list[str]:
    """Chain-walk resolution against an already-loaded snapshot map —
    the shared core of :func:`resolve_files` and the expire rebase loops
    (which would otherwise re-read the whole JSON log per (ref, table))."""
    files: set[str] = set()
    for s in reversed(_chain(snaps, sid)):
        files |= set(s["added"].get(table, ()))
        files -= set(s["removed"].get(table, ()))
    return sorted(files)


def resolve_files(out_dir: str, table: str, snapshot_id: str | None = None) -> list[str]:
    """File set of ``table`` at a snapshot (default HEAD): walk the
    parent chain root→snapshot applying added/removed deltas. Raises for
    an unknown or expired snapshot (Iceberg: ``Cannot find snapshot``).
    No main commit yet (e.g. only WAP-branch commits exist) resolves to
    the empty table, not an error — main readers of a staged-only dir
    must simply see nothing."""
    sid = snapshot_id or current_snapshot_id(out_dir)
    if sid is None:
        return []
    return _resolve_from(_load_by_id(out_dir), sid, table)


def snapshot_as_of(out_dir: str, ts_ms: int) -> str:
    """Newest snapshot committed at or before ``ts_ms`` that is reachable
    from HEAD (rolled-back-away branches don't time-travel, matching
    Iceberg's ``FOR SYSTEM_TIME AS OF`` over the current history)."""
    snaps = _load_by_id(out_dir)
    cur = current_snapshot_id(out_dir)
    best = None
    while cur is not None:
        s = snaps.get(cur)
        if s is None:
            break
        if s["created_at_ms"] <= ts_ms:
            best = s
            break  # chain is newest-first; first hit is the newest ≤ ts
        cur = s["parent_id"]
    if best is None:
        raise ValueError(f"no snapshot at or before {ts_ms}")
    return best["snapshot_id"]


def _scan_files(spark: SparkSession, out_dir: str, table: str, rels: list[str]) -> DataFrame:
    """The one snapshot scan shape: explicit file list (never a dir
    listing — orphans must stay invisible), ``basePath`` so partition
    columns (idspace, salt) are inferred from the directory layout, and
    ``mergeSchema`` so cross-batch schema evolution unions correctly. An
    empty list yields an empty DataFrame with no columns (nothing to
    infer from)."""
    if not rels:
        return spark.createDataFrame([], "ignored string").limit(0).drop("ignored")
    return (
        spark.read.option("basePath", os.path.join(out_dir, table))
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(out_dir, r) for r in rels])
    )


def _scan_with_string_parts(
    spark: SparkSession, out_dir: str, table: str, rels: list[str], part_cols: list[str]
) -> DataFrame:
    """:func:`_scan_files` with the partition columns read as strings —
    the read of every copy-on-write op that writes rows back. An inferred
    partition type can re-encode a leaf name: ``idspace=0001`` reads as
    int 1 and would be written back as ``idspace=1``."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField(f.name, T.StringType()) if f.name in part_cols else f
        for f in _scan_files(spark, out_dir, table, rels).schema
    ])
    return (
        spark.read.schema(schema)
        .option("basePath", os.path.join(out_dir, table))
        .parquet(*[os.path.join(out_dir, r) for r in rels])
    )


def read_table_at(
    spark: SparkSession,
    out_dir: str,
    table: str,
    snapshot_id: str | None = None,
    as_of_ms: int | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Snapshot-consistent read of ``table`` at a snapshot id / AS-OF
    timestamp / named tag / branch head (default HEAD); scan shape per
    :func:`_scan_files`. Pending equality deletes (merge-on-read,
    :func:`equality_delete`) are applied on read with Iceberg's sequence
    rule — a delete masks only rows in data files OLDER than it, so a
    later re-insert of a deleted key is visible; with none pending
    (the common case) the plan is the plain single scan."""
    if sum(x is not None for x in (snapshot_id, as_of_ms, tag, branch)) > 1:
        raise ValueError("pass at most one of snapshot_id, as_of_ms, tag, branch")
    if as_of_ms is not None:
        snapshot_id = snapshot_as_of(out_dir, as_of_ms)
    if tag is not None:
        snapshot_id = resolve_tag(out_dir, tag)
    if branch is not None:
        snapshot_id = resolve_branch(out_dir, branch)
    sid = snapshot_id or current_snapshot_id(out_dir)
    if sid is None:
        return _scan_files(spark, out_dir, table, [])
    snaps = _load_by_id(out_dir)
    dels = _pending_deletes(snaps, sid, table)
    if not dels:
        return _scan_files(spark, out_dir, table, _resolve_from(snaps, sid, table))
    return _apply_eq_deletes(spark, out_dir, table, _resolve_with_seq(snaps, sid, table), dels)


def _apply_eq_deletes(
    spark: SparkSession,
    out_dir: str,
    table: str,
    file_seq: dict[str, int],
    dels: list[tuple[str, int]],
) -> DataFrame:
    """Merge-on-read scan: group data files by WHICH deletes apply
    (a delete file masks data files with a strictly smaller sequence —
    Iceberg's rule, so re-inserted keys in newer files survive), then
    per group anti-join the union of its applicable delete-key sets,
    null-safe on the delete file's own columns. Group count is bounded
    by the number of delete commits (+1), and delete-key sets broadcast
    — takedown lists are small by nature; a pending set large enough to
    hurt is the signal to run :func:`materialize_deletes`."""
    from functools import reduce

    from pyspark.sql import functions as F

    if not file_seq:
        return _scan_files(spark, out_dir, table, [])
    groups: dict[tuple, list[str]] = {}
    for rel, aseq in file_seq.items():
        appl = tuple(sorted(d_rel for d_rel, dseq in dels if dseq > aseq))
        groups.setdefault(appl, []).append(rel)
    parts = []
    for appl, rels in sorted(groups.items()):
        df = _scan_files(spark, out_dir, table, sorted(rels))
        by_schema: dict[tuple, list[DataFrame]] = {}
        for d_rel in appl:
            kdf = spark.read.parquet(os.path.join(out_dir, d_rel))
            by_schema.setdefault(tuple(kdf.columns), []).append(kdf)
        for cols, kdfs in sorted(by_schema.items()):
            keys = kdfs[0]
            for k in kdfs[1:]:
                keys = keys.unionByName(k)
            keys = keys.distinct()
            # a delete keyed on a column these (older) files predate
            # reads as NULL — Iceberg's missing-equality-column rule —
            # instead of failing analysis on every read
            for c, dtype in keys.dtypes:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast(dtype))
            cond = reduce(
                lambda a, b: a & b, [df[c].eqNullSafe(keys[c]) for c in cols]
            )
            df = df.join(F.broadcast(keys), cond, "left_anti")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


# ops whose added files carry NEW rows (an incremental scan reads them) vs
# ops that only re-arrange existing rows (compaction — skipped, exactly
# like Iceberg's incremental append scan skips REPLACE snapshots; "heal"
# is the same kind of commit in logs that older builds wrote). Anything
# else (op="delete" removes rows) makes the append scan undefined → raise.
_APPEND_OPS = frozenset({"append", "stream-append", "import"})
_ROW_PRESERVING_OPS = frozenset({"replace", "heal"})


def incremental_files(
    out_dir: str, table: str, from_snapshot_id: str, to_snapshot_id: str | None = None
) -> list[str]:
    """Files holding the rows APPENDED to ``table`` after
    ``from_snapshot_id`` up to ``to_snapshot_id`` (default HEAD) —
    Iceberg's incremental append scan over the parent chain, EXCLUSIVE of
    ``from`` and inclusive of ``to``.

    Walks to→from collecting ``added`` of append-op snapshots; replace
    snapshots contribute nothing (their files re-arrange rows that
    either predate the range or were already collected from the append
    that produced them — old files stay on disk until
    :func:`expire_snapshots`, so reading the ORIGINAL append files is
    always valid inside a retained range). Raises if ``from`` is not an
    ancestor of ``to`` (diverged/rolled-back history) or if the range
    contains an op with non-append row semantics."""
    sid = to_snapshot_id or current_snapshot_id(out_dir)
    if sid is None:
        raise ValueError(f"no snapshots committed under {out_dir}")
    snaps = _load_by_id(out_dir)
    if from_snapshot_id not in snaps:
        raise ValueError(f"snapshot {from_snapshot_id} not found (expired or never committed)")
    chain = []
    cur: str | None = sid
    while cur is not None and cur != from_snapshot_id:
        s = snaps.get(cur)
        if s is None:
            raise ValueError(f"snapshot {cur} not found (expired or never committed)")
        chain.append(s)
        cur = s["parent_id"]
    if cur != from_snapshot_id:
        raise ValueError(
            f"{from_snapshot_id} is not an ancestor of {sid} — rolled-back or divergent history"
        )
    files: list[str] = []
    seen: set[str] = set()
    for s in reversed(chain):
        if s["op"] in _ROW_PRESERVING_OPS:
            continue
        if s["op"] not in _APPEND_OPS:
            raise ValueError(
                f"snapshot {s['snapshot_id']} op={s['op']!r} has non-append row semantics; "
                "incremental append scan is undefined across it"
            )
        for rel in s["added"].get(table, ()):
            if rel not in seen:
                seen.add(rel)
                files.append(rel)
    return sorted(files)


def read_incremental(
    spark: SparkSession,
    out_dir: str,
    table: str,
    from_snapshot_id: str,
    to_snapshot_id: str | None = None,
) -> DataFrame:
    """Rows appended between two snapshots — the CDC-style feed a
    downstream training-data pipeline consumes ("give me only the
    documents/edges ingested since my last checkpoint") without
    rescanning the table. Same scan shape as :func:`read_table_at`
    (explicit file list, basePath for partition columns, mergeSchema for
    evolution); cost scales with the DELTA, not the table."""
    return _scan_files(
        spark, out_dir, table, incremental_files(out_dir, table, from_snapshot_id, to_snapshot_id)
    )


def rollback(out_dir: str, snapshot_id: str) -> None:
    """Point HEAD at an earlier snapshot. Later snapshots stay on disk
    (still addressable by id) until :func:`expire_snapshots`; the next
    commit parents from the restored HEAD, so the abandoned suffix
    becomes an unreachable branch — Iceberg's ``rollback_to_snapshot``."""
    if snapshot_id not in _load_by_id(out_dir):
        raise ValueError(f"snapshot {snapshot_id} not found")
    _atomic_write(_head_path(out_dir), snapshot_id)


def expire_snapshots(out_dir: str, keep_last: int = 1, tables: tuple = TABLES) -> dict:
    """Drop history: keep the newest ``keep_last`` snapshots of the HEAD
    chain plus every TAGGED snapshot and BRANCH HEAD (refs are retention
    pins, Iceberg ref semantics), delete every other snapshot JSON, and
    delete data files no retained snapshot references. The kept chain's
    oldest snapshot and each retained tag is REBASED to a root (its
    delta rewritten to the full resolved file set); a retained BRANCH
    head is instead rebased onto its nearest KEPT ancestor when one
    exists — severing a staged branch from main (a parentless root)
    would make ``fast_forward`` read it as divergent and the audited
    batch permanently unpublishable. Works with no main commit at all
    (a branch-only WAP dir): nothing is kept for main and abandoned
    branches' history is reclaimed."""
    snaps = _load_by_id(out_dir)
    if not snaps:
        return {"expired": 0, "deleted_files": 0, "pinned_tags": {}, "pinned_branches": {}}
    head = current_snapshot_id(out_dir)
    chain = []
    cur: str | None = head
    while cur is not None and cur in snaps:
        chain.append(snaps[cur])
        cur = snaps[cur]["parent_id"]
    kept = chain[: max(1, keep_last)] if chain else []
    kept_ids = {s["snapshot_id"] for s in kept}

    # the rebase must cover EVERY table appearing anywhere in history,
    # not just the caller's deletion scope — a subset would overwrite the
    # boundary snapshot's other tables away and orphan their live files
    hist_tables = tuple(
        set(tables) | {t for s in snaps.values() for t in (*s["added"], *s["removed"])}
    )

    # resolve the keep-boundary snapshot BEFORE deleting its ancestry
    base = kept[-1] if kept else None
    base_files = (
        {t: set(_resolve_from(snaps, base["snapshot_id"], t)) for t in hist_tables}
        if base
        else {t: set() for t in hist_tables}
    )
    keep_files: dict[str, set] = {t: set(base_files[t]) for t in hist_tables}
    for s in kept[:-1]:
        for t in hist_tables:
            keep_files[t] |= set(s["added"].get(t, ()))

    # only REBASED snapshots lose the per-file sequence numbers the
    # equality-delete masks depend on (their whole file set re-adds at
    # one sequence). Interior kept deltas keep real sequences, so
    # history spanning an eq-delete→materialize pair expires fine with a
    # big-enough keep_last; the refusal is scoped to what rebases: the
    # keep boundary and every pinned ref (code-review r5 — the earlier
    # any-retained-snapshot rule locked such history out permanently)
    def _refuse_if_pending_at(sid: str, what: str) -> None:
        for t in hist_tables:
            if _pending_deletes(snaps, sid, t):
                raise ValueError(
                    f"expire_snapshots refused: {what} {sid} has pending equality "
                    f"deletes on {t!r} and would be rebased, losing the sequence "
                    "numbers its masks depend on — materialize_deletes first, "
                    "raise keep_last past the eq-delete snapshot, or drop the ref"
                )

    if base is not None:
        _refuse_if_pending_at(base["snapshot_id"], "keep-boundary snapshot")

    # tagged snapshots AND branch heads are retention pins (Iceberg ref
    # semantics); resolve all of them against the still-intact history
    # first. (Only a branch's HEAD is retained; its interior audit
    # snapshots expire like any other history.)
    tags = list_tags(out_dir)
    branches = list_branches(out_dir)
    branch_heads = set(branches.values())
    tagged_extra = []
    pinned_tags: dict[str, str] = {}
    pinned_branches: dict[str, str] = {}
    # two passes: admit EVERY pin into kept_ids first, THEN search each
    # branch head's ancestor — otherwise a branch whose ancestor is a
    # pinned TAG would be rebased to a root or not depending on random
    # snapshot-id sort order (code-review r5)
    pin_sids = [
        sid
        for sid in sorted((set(tags.values()) | branch_heads) - kept_ids)
        if sid in snaps  # dangling refs retain nothing
    ]
    for sid in pin_sids:
        _refuse_if_pending_at(sid, "pinned ref snapshot")
        kept_ids.add(sid)
    for sid in pin_sids:
        tfiles = {t: set(_resolve_from(snaps, sid, t)) for t in hist_tables}
        # a branch head keeps its link to the retained history: nearest
        # KEPT ancestor (kept chain or another pin), computed NOW while
        # the full ancestry is intact
        anc = None
        if sid in branch_heads:
            cur = snaps[sid]["parent_id"]
            while cur is not None and cur in snaps:
                if cur in kept_ids:
                    anc = cur
                    break
                cur = snaps[cur]["parent_id"]
        tagged_extra.append((snaps[sid], tfiles, anc))
        pinned_tags.update({n: s for n, s in tags.items() if s == sid})
        pinned_branches.update({n: s for n, s in branches.items() if s == sid})
        for t in hist_tables:
            keep_files[t] |= tfiles[t]

    def _rebase(snap: dict, files: dict[str, set], anc: str | None) -> None:
        """Rewrite ``snap`` to resolve without its expired ancestry:
        as a parentless root holding the full file set, or — for a
        branch head with a surviving main ancestor — as a DELTA against
        that ancestor, preserving the fast-forward ancestry walk."""
        snap = dict(snap)
        # a rebased snapshot has (enforced above) no pending deletes; its
        # literal delete fields would be stale bookkeeping
        snap.pop("delete_added", None)
        snap.pop("delete_removed", None)
        if anc is None:
            snap["parent_id"] = None
            snap["added"] = {t: sorted(files[t]) for t in hist_tables if files[t]}
            snap["removed"] = {}
        else:
            anc_files = {t: set(_resolve_from(snaps, anc, t)) for t in hist_tables}
            snap["parent_id"] = anc
            snap["added"] = {
                t: sorted(files[t] - anc_files[t]) for t in hist_tables if files[t] - anc_files[t]
            }
            snap["removed"] = {
                t: sorted(anc_files[t] - files[t]) for t in hist_tables if anc_files[t] - files[t]
            }
        _atomic_write(
            os.path.join(
                _snap_root(out_dir), f"snap-{snap['sequence']:08d}-{snap['snapshot_id']}.json"
            ),
            json.dumps(snap, indent=1),
        )

    # rewrite the boundary snapshot (and every retained ref snapshot) so
    # resolution never needs the expired ancestry
    if base is not None:
        _rebase(base, base_files, None)
    for snap, tfiles, anc in tagged_extra:
        _rebase(snap, tfiles, anc)

    expired = 0
    for p in _snap_paths(out_dir):
        with open(p) as fh:
            sid = json.load(fh)["snapshot_id"]
        if sid not in kept_ids:
            os.remove(p)
            expired += 1

    # equality-delete KEY files referenced by no retained snapshot go too
    # (ADVICE r5): rebased snapshots drop their delete_added fields and
    # expired ones are gone, so the _eq_deletes/ parquet files — which
    # enumerate the taken-down keys — would otherwise linger readable
    # until a separate remove_orphan_files run, leaving the takedown
    # recipe (materialize_deletes + expire_snapshots) incomplete.
    # Read the RETAINED snapshots back from disk: they are the rewritten,
    # post-rebase truth.
    deleted = _delete_unreferenced(out_dir, tables, keep_files, list_snapshots(out_dir))
    # pinned_tags is the compliance signal a physical purge must read:
    # these tags kept their snapshots' files on disk and readable — an
    # INCOMPLETE takedown until the tags are deleted/moved and expire
    # reruns (code-review r5)
    return {
        "expired": expired,
        "deleted_files": deleted,
        "pinned_tags": pinned_tags,
        "pinned_branches": pinned_branches,
    }


def remove_orphan_files(out_dir: str, tables: tuple = TABLES) -> int:
    """Delete data files referenced by NO retained snapshot — the debris
    of a crash between data write and snapshot commit. Also reaps
    ``_rewrite_tmp-*`` / ``_delete_tmp-*`` / ``_merge_tmp-*`` staging
    dirs a crashed rewrite_data_files / delete_where / merge_into left
    behind (they sit beside the table roots, invisible to readers but
    holding disk). Run out-of-band (single-writer window), like
    Iceberg's ``removeOrphanFiles``."""
    import shutil

    for d in os.listdir(out_dir) if os.path.isdir(out_dir) else ():
        if d.startswith(("_rewrite_tmp-", "_delete_tmp-", "_merge_tmp-", "_eqdel_tmp-")):
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    snaps = list_snapshots(out_dir)
    if not snaps:
        return 0
    referenced: dict[str, set] = {t: set() for t in tables}
    for s in snaps:
        for t in tables:
            referenced[t] |= set(s["added"].get(t, ()))
    return _delete_unreferenced(out_dir, tables, referenced, snaps)


def _delete_unreferenced(
    out_dir: str, tables: tuple, referenced: dict[str, set], snaps: list[dict]
) -> int:
    """The one unreferenced-file sweep (expire_snapshots,
    remove_orphan_files): delete every data file of ``tables`` outside
    ``referenced`` and every ``_eq_deletes/`` key file no snapshot in
    ``snaps`` names in ``delete_added``. Returns the number deleted."""
    deleted = 0
    on_disk = list_data_files(out_dir, tables)
    for t in tables:
        for rel in sorted(on_disk[t] - referenced[t]):
            os.remove(os.path.join(out_dir, rel))
            deleted += 1
    del_referenced = {f for s in snaps for fs in s.get("delete_added", {}).values() for f in fs}
    for dirpath, _dirnames, files in os.walk(os.path.join(out_dir, EQ_DELETE_DIR)):
        for f in files:
            rel = os.path.relpath(os.path.join(dirpath, f), out_dir)
            if f.endswith(".parquet") and rel not in del_referenced:
                os.remove(os.path.join(dirpath, f))
                deleted += 1
    return deleted


# ---------------------------------------------------------------------------
# Named refs (Iceberg tags) — durable names for snapshots
# ---------------------------------------------------------------------------


def _tags_path(out_dir: str) -> str:
    return os.path.join(_snap_root(out_dir), "TAGS")


def _load_refs(path: str) -> dict[str, str]:
    """Named-ref store (TAGS / BRANCHES share the shape): {name: sid}."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _save_refs(path: str, refs: dict[str, str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _atomic_write(path, json.dumps(refs, indent=1, sort_keys=True))


def _drop_ref(path: str, name: str, kind: str) -> None:
    refs = _load_refs(path)
    if name not in refs:
        raise ValueError(f"{kind} {name!r} not found")
    del refs[name]
    _save_refs(path, refs)


def _resolve_ref(path: str, name: str, kind: str) -> str:
    refs = _load_refs(path)
    if name not in refs:
        raise ValueError(f"{kind} {name!r} not found")
    return refs[name]


def list_tags(out_dir: str) -> dict[str, str]:
    """All tags as {name: snapshot_id}."""
    return _load_refs(_tags_path(out_dir))


def create_tag(out_dir: str, name: str, snapshot_id: str | None = None) -> str:
    """Pin a durable name to a snapshot (default HEAD) — Iceberg's tag
    refs. The promotion gesture of a validated pipeline run: a consumer
    reads ``read_table_at(..., tag='prod')`` and is immune to later
    ingests until someone re-tags; :func:`expire_snapshots` RETAINS
    tagged snapshots (and their files) regardless of ``keep_last``, so a
    tag is also a retention pin. Atomic tmp+rename update; re-tagging an
    existing name moves it."""
    if not name or not isinstance(name, str):
        raise ValueError("tag name must be a non-empty string")
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(out_dir)
    if not sid:
        raise ValueError(
            f"no snapshots committed under {out_dir}"
            if snapshot_id is None
            else "snapshot_id must be a non-empty string"
        )
    if sid not in _load_by_id(out_dir):
        raise ValueError(f"snapshot {sid} not found (expired or never committed)")
    tags = list_tags(out_dir)
    tags[name] = sid
    _save_refs(_tags_path(out_dir), tags)
    return sid


def delete_tag(out_dir: str, name: str) -> None:
    _drop_ref(_tags_path(out_dir), name, "tag")


def resolve_tag(out_dir: str, name: str) -> str:
    return _resolve_ref(_tags_path(out_dir), name, "tag")


def _branches_path(out_dir: str) -> str:
    return os.path.join(_snap_root(out_dir), "BRANCHES")


def list_branches(out_dir: str) -> dict[str, str]:
    """All branches as {name: head snapshot_id}."""
    return _load_refs(_branches_path(out_dir))


def resolve_branch(out_dir: str, name: str) -> str:
    return _resolve_ref(_branches_path(out_dir), name, "branch")


def delete_branch(out_dir: str, name: str) -> None:
    """Drop the ref (an audit that failed). The branch's snapshots become
    unreachable and :func:`expire_snapshots` + :func:`remove_orphan_files`
    reclaim them — the WAP abandon path."""
    _drop_ref(_branches_path(out_dir), name, "branch")


def _set_branch(out_dir: str, name: str, sid: str) -> None:
    if not name or not isinstance(name, str):
        raise ValueError("branch name must be a non-empty string")
    branches = list_branches(out_dir)
    branches[name] = sid
    _save_refs(_branches_path(out_dir), branches)


def fast_forward(out_dir: str, branch: str) -> str:
    """PUBLISH a write-audit-publish branch: move HEAD to the branch
    head, allowed only when HEAD is an ancestor of it (a true
    fast-forward — Iceberg's ``fast_forward`` procedure). The branch's
    audited snapshots become the main history in one atomic pointer
    move; nothing is copied. Raises if main advanced divergently since
    the branch was cut (the audit must rebase by re-ingesting)."""
    target = resolve_branch(out_dir, branch)
    head = current_snapshot_id(out_dir)
    snaps = _load_by_id(out_dir)
    cur: str | None = target
    while cur is not None and cur != head:
        cur = snaps[cur]["parent_id"] if cur in snaps else None
    if head is not None and cur != head:
        raise ValueError(
            f"cannot fast-forward: HEAD {head} is not an ancestor of "
            f"branch {branch!r} head {target} (divergent history)"
        )
    _atomic_write(_head_path(out_dir), target)
    return target


def ensure_baseline(out_dir: str) -> dict[str, set]:
    """Entry-time snapshot hygiene of ``run_pipeline`` (every batch and
    every stream micro-batch): if the directory
    predates the snapshot log, a baseline ``op='import'`` commit covers
    the existing files (Iceberg's migrate-table analogue), so the first
    real snapshot's delta doesn't strand them outside every chain.
    Returns the current physical listing (reusable as the caller's
    pre-write baseline)."""
    on_disk = list_data_files(out_dir)
    # "predates the snapshot log" means NO snapshots exist at all — not
    # merely "main has no commit yet": a branch-only dir (first batch
    # staged via WAP) has HEAD unset but a live log, and importing its
    # files into main would leak the unaudited batch to HEAD readers and
    # make the branch unpublishable (divergent)
    if current_snapshot_id(out_dir) is None and not _snap_paths(out_dir) and any(on_disk.values()):
        commit_snapshot(out_dir, added={t: sorted(f) for t, f in on_disk.items()}, op="import")
    return on_disk


def rewrite_data_files(
    spark: SparkSession,
    out_dir: str,
    tables: tuple = TABLES,
    max_parts: int = 32,
    target_bytes: int = 128 << 20,
    sort_by: list[str] | None = None,
) -> dict:
    """Iceberg-style NON-destructive small-file compaction: compacted
    part files are written ALONGSIDE the originals (unique names inside
    the same partition leaf), then ONE replace snapshot atomically flips
    readers from old to new. Old files stay on disk until
    :func:`expire_snapshots` drops the history that references them, so
    every retained snapshot — including pre-rewrite ones — keeps reading
    correctly throughout; a crash at ANY point leaves either invisible
    orphan files (cleaned by :func:`remove_orphan_files`) or nothing.

    This is the package's one output compactor. Only
    :func:`read_table_at` readers see a consistent table during/after
    this op — a plain ``spark.read.parquet(root)`` would double-count
    until expiration, exactly as listing an Iceberg data dir would.
    Follow it with ``expire_snapshots(keep_last=1)`` to drop the
    replaced files: the leaves are then compacted, one snapshot remains,
    and a plain-path read sees each row once.

    Per table, binpack (the default) picks every leaf with more than
    ``max_parts`` files and the SORT strategy (``sort_by``) every leaf;
    all picked leaves are rewritten in ONE job through
    :func:`_stage_and_adopt`: one read of the picked files with the
    :func:`_scan_files` merged schema (a leaf mixing pre- and
    post-evolution files keeps the added columns) and the partition
    columns as strings (each leaf keeps its name), hash-repartitioned
    into one task per leaf. A written file holds at most
    ``rows × target_bytes ÷ bytes`` of the picked files' rows, so a leaf
    over ``target_bytes`` rolls into several files.

    ``sort_by`` sorts each task by the partition columns, then the
    ``sort_by`` columns, so a leaf's files cover consecutive DISJOINT
    value ranges and footer min/max stats let a predicate on them skip
    every other file (what makes `delete_where` / `merge_into` probes on
    a clustered `doc_sha` scale by the delta). The partition columns
    lead because Spark's planned write otherwise inserts its own sort on
    them, which would replace the ``sort_by`` order.
    """
    import shutil

    import pyarrow.parquet as pq

    if current_snapshot_id(out_dir) is None:
        raise ValueError(
            "rewrite_data_files needs a snapshot on main; run_pipeline commits one "
            "(a pre-snapshot directory gets an import baseline on its next batch)"
        )
    _refuse_pending_deletes(out_dir, tables, "rewrite_data_files")
    cid = uuid.uuid4().hex[:8]
    tmp_root = os.path.join(out_dir, f"_rewrite_tmp-{cid}")
    stats = {"leaves_seen": 0, "leaves_rewritten": 0, "parts_before": 0, "parts_after": 0}
    added: dict[str, list[str]] = {}
    removed: dict[str, list[str]] = {}
    try:
        for t in tables:
            by_leaf: dict[str, list[str]] = {}
            for rel in resolve_files(out_dir, t):
                by_leaf.setdefault(os.path.dirname(rel), []).append(rel)
            # binpack rewrites fragmented leaves, the sort strategy every leaf
            picked = [rels for rels in by_leaf.values() if sort_by or len(rels) > max_parts]
            stats["leaves_seen"] += len(by_leaf)
            if not picked:
                continue
            rels = sorted(r for leaf in picked for r in leaf)
            paths = [os.path.join(out_dir, r) for r in rels]
            n_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
            n_bytes = sum(os.path.getsize(p) for p in paths)
            part_cols = _part_cols_for(out_dir, t, rels[0])
            df = _scan_with_string_parts(spark, out_dir, t, rels, part_cols).repartition(
                len(picked), *part_cols
            )
            if sort_by:
                sort_cols = part_cols + [c for c in sort_by if c not in part_cols]
                df = df.sortWithinPartitions(*sort_cols)
            max_records = max(1, n_rows * target_bytes // n_bytes)
            added[t] = _stage_and_adopt(
                df, out_dir, t, part_cols, f"rw{cid}", tmp_root, max_records=max_records
            )
            removed[t] = rels
            stats["leaves_rewritten"] += len(picked)
            stats["parts_before"] += len(rels)
            stats["parts_after"] += len(added[t])
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    if removed:
        snap = commit_snapshot(out_dir, added=added, removed=removed, op="replace")
        stats["snapshot_id"] = snap["snapshot_id"]
    return stats


def _uri_to_rel(uri: str, out_dir: str) -> str:
    """Map ``input_file_name()``'s URI back to an out_dir-relative path.
    Spark percent-encodes the URI (a literal '%' in a partition dir —
    e.g. its own ``idspace=a%2Fb`` escaping — comes back as ``%25``), so
    parse + unquote exactly once."""
    from urllib.parse import unquote, urlparse

    p = uri
    if p.startswith("file:"):
        p = unquote(urlparse(p).path)
    return os.path.relpath(p, out_dir)


def _part_cols_for(out_dir: str, table: str, layout_ref: str) -> list[str]:
    """Partition columns for a rewrite: read them off an existing leaf
    path when one exists (uniform per table — one writer produced the
    layout), else fall back to the pipeline's write layout
    (``materialize.GRAPH_PARTITIONS``) so an insert into an emptied table
    cannot write flat — that would poison every later partitioned read
    with Spark's "conflicting directory structures" error."""
    if layout_ref:
        return [
            seg.split("=", 1)[0]
            for seg in os.path.dirname(layout_ref).split(os.sep)[1:]
            if "=" in seg
        ]
    return list(GRAPH_PARTITIONS.get(table, ()))


def _stage_and_adopt(
    df: DataFrame, out_dir: str, table: str, part_cols: list[str], prefix: str, tmp_root: str,
    max_records: int = 0,
) -> list[str]:
    """The one path by which the copy-on-write ops (delete_where,
    merge_into, materialize_deletes, rewrite_data_files) put rows into a
    table: ONE ``partitionBy`` write of ``df`` under a staging dir, then
    each parquet part is adopted into the live table tree under a
    run-unique name (one rename per file), invisible to snapshot readers
    until the caller commits — a crash never leaves a half-visible
    rewrite. ``max_records`` > 0 is the writer's ``maxRecordsPerFile``
    (a task rolls to a new file past it). Returns the adopted
    out_dir-relative paths."""
    tmp_t = os.path.join(tmp_root, table)
    writer = df.write.mode("overwrite")
    if max_records:
        writer = writer.option("maxRecordsPerFile", max_records)
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(tmp_t)
    added: list[str] = []
    for dirpath, _dirnames, files in os.walk(tmp_t):
        leaf_rel = os.path.relpath(dirpath, tmp_t)
        dest_leaf = table if leaf_rel == "." else os.path.join(table, leaf_rel)
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            os.makedirs(os.path.join(out_dir, dest_leaf), exist_ok=True)
            new_rel = os.path.join(dest_leaf, f"{prefix}-{f}")
            os.rename(os.path.join(dirpath, f), os.path.join(out_dir, new_rel))
            added.append(new_rel)
    return added


def delete_where(
    spark: SparkSession, out_dir: str, predicate: str, tables: tuple = TABLES
) -> dict:
    """Copy-on-write row-level DELETE — Iceberg's ``DELETE FROM t WHERE
    ...`` in CoW mode, the takedown / right-to-be-forgotten operation a
    training-data pipeline needs ("purge these doc_shas from the KG").

    Two-phase, and both phases touch only what they must at scale:

      1. **Find affected files**: one scan of the HEAD file set counting
         predicate matches per ``input_file_name()``. Parquet footer
         stats + partition pruning serve the role of Iceberg's column
         metrics here — a predicate on a partition column (``idspace``)
         or a well-clustered one (``doc_sha`` after compaction) prunes
         most row groups before they're read.
      2. **Rewrite only affected files**: surviving rows (``NOT
         predicate``, with SQL ternary semantics — a NULL predicate KEEPS
         the row, matching ``DELETE WHERE``) are rewritten in ONE
         partitionBy job per table alongside the originals, then a
         single ``op="delete"`` snapshot atomically flips readers.
         Unaffected files are never read twice, never rewritten.

    Pre-delete snapshots still read the original files (time travel), so
    a PHYSICAL purge = ``delete_where`` + :func:`expire_snapshots` — the
    same two-step Iceberg requires, documented here because takedown
    compliance needs the second step. TAGS ARE RETENTION PINS: a tag on
    a pre-delete snapshot keeps the condemned files on disk and readable
    through ``read_table_at(tag=...)`` — check ``expire_snapshots``'s
    ``pinned_tags`` return and delete/move those tags, then expire
    again, before declaring the purge complete. ``incremental_files`` refuses to
    scan across the delete snapshot (non-append row semantics), exactly
    like Iceberg's incremental append scan.

    The predicate must be resolvable against every table in ``tables``
    (pass a subset for table-specific columns). run_pipeline's ingest
    manifest intentionally keeps the deleted batch's entry: a rerun of
    the same input SKIPS it, so deleted rows are not resurrected.
    """
    import shutil

    from pyspark.sql import functions as F

    if current_snapshot_id(out_dir) is None:
        raise ValueError("delete_where needs a snapshot log (run a pipeline batch first)")
    _refuse_pending_deletes(out_dir, tables, "delete_where")
    cid = uuid.uuid4().hex[:8]
    tmp_root = os.path.join(out_dir, f"_delete_tmp-{cid}")
    added: dict[str, list[str]] = {t: [] for t in tables}
    removed: dict[str, list[str]] = {t: [] for t in tables}
    summary: dict[str, int] = {}
    try:
        for t in tables:
            rels = resolve_files(out_dir, t)
            if not rels:
                continue
            # partition values live in the dir names, so partitionBy on
            # rewrite reproduces the same leaves; both phases read them as
            # strings, so the predicate sees the same values in each
            part_cols = _part_cols_for(out_dir, t, rels[0])
            scan = _scan_with_string_parts(spark, out_dir, t, rels, part_cols)
            hit = F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
            per_file = scan.where(hit).groupBy(F.input_file_name().alias("uri")).count().collect()
            if not per_file:
                continue
            affected = sorted(_uri_to_rel(r["uri"], out_dir) for r in per_file)
            keep_scan = _scan_with_string_parts(spark, out_dir, t, affected, part_cols)
            # the affected subset may be all pre-evolution files whose
            # merged schema lacks a column the predicate references
            # (phase 1 read it as NULL via the FULL file set) — backfill
            # NULLs so the predicate resolves identically in phase 2
            for c, dtype in scan.dtypes:
                if c not in keep_scan.columns:
                    keep_scan = keep_scan.withColumn(c, F.lit(None).cast(dtype))
            keep = keep_scan.where(~hit)
            added[t] = _stage_and_adopt(keep, out_dir, t, part_cols, f"del{cid}", tmp_root)
            removed[t] = affected
            summary[f"{t}_deleted_rows"] = int(sum(r["count"] for r in per_file))
            summary[f"{t}_files_rewritten"] = len(affected)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    if not any(removed.values()):
        return {"deleted_rows": 0, "files_rewritten": 0, "snapshot_id": None}
    snap = commit_snapshot(out_dir, added=added, removed=removed, op="delete", summary=summary)
    return {
        "deleted_rows": sum(v for k, v in summary.items() if k.endswith("_deleted_rows")),
        "files_rewritten": sum(v for k, v in summary.items() if k.endswith("_files_rewritten")),
        "snapshot_id": snap["snapshot_id"],
        "summary": summary,
    }


def merge_into(
    spark: SparkSession,
    out_dir: str,
    table: str,
    source: DataFrame,
    on: str | list[str],
) -> dict:
    """Copy-on-write MERGE (upsert by key) — Iceberg's ``MERGE INTO t
    USING s ON t.k = s.k WHEN MATCHED THEN DELETE ... INSERT *`` in CoW
    mode: every target row whose key appears in ``source`` is replaced by
    the source's row-set for that key, and source keys absent from the
    target are inserted. With many rows per key (a doc_sha owns a SET of
    edges) this is the key-scoped dynamic overwrite an ontology-version
    upsert or a curation-corrections feed needs: "replace these
    documents' edges with the corrected set, add the new documents".

    Same two-phase CoW shape as :func:`delete_where`:

      1. **Find affected files**: when the key is a single column with a
         small distinct set (≤ ``_MERGE_PUSHDOWN_KEYS`` — the common
         corrections-feed shape), the key VALUES are collected and pushed
         into the scan as an ``In`` filter, so parquet footer stats /
         dictionaries and partition pruning skip unaffected files without
         reading them (Iceberg's column-metrics role) — the probe then
         scales by the delta. Otherwise one semi-join against the
         distinct source keys counts matches per ``input_file_name()``;
         that probe reads the table once (no row-group pruning for join
         keys — the honest large-source cost, same as Iceberg's
         CoW MERGE planning scan).
      2. **Rewrite + insert in ONE write job**: survivors (target
         anti-join source keys — SQL join semantics, so a NULL key never
         matches and its target rows always survive) are unioned with
         the full source (``allowMissingColumns`` — a column the source
         adds lands as Iceberg add-column evolution: old snapshots keep
         the old schema, HEAD reads merge) and written partitionBy'd
         once; a single snapshot flips readers atomically. Unaffected
         files are never read twice.

    Snapshot op semantics: matched rows → ``op="overwrite"`` and
    ``incremental_files`` refuses to scan across it (rows were
    REPLACED), exactly like Iceberg's incremental append scan over an
    overwrite; a pure insert (no matched key) commits ``op="append"``
    and stays incrementally scannable; a fully-empty merge (no matches,
    empty source) commits nothing and returns ``snapshot_id=None``.
    Time travel to pre-merge snapshots still reads the original files
    until :func:`expire_snapshots`.

    ``source`` must carry the table's partition columns (``idspace``,
    and ``salt`` for edges) — the same contract Iceberg's writer
    distribution imposes on MERGE sources.

    Reference: Iceberg spec copy-on-write row-level operations;
    fastobo-py has no table format (north-rule scope, like the rest of
    this module).
    """
    import shutil

    from pyspark.sql import functions as F

    if current_snapshot_id(out_dir) is None:
        raise ValueError("merge_into needs a snapshot log (run a pipeline batch first)")
    _refuse_pending_deletes(out_dir, (table,), "merge_into")
    on = [on] if isinstance(on, str) else list(on)
    if not on:
        raise ValueError("merge_into needs at least one merge key column")
    cid = uuid.uuid4().hex[:8]
    tmp_root = os.path.join(out_dir, f"_merge_tmp-{cid}")
    rels = resolve_files(out_dir, table)
    part_cols = _part_cols_for(out_dir, table, rels[0] if rels else "")
    # the target's partition columns are read as strings
    # (_scan_with_string_parts); the source's are cast to match, so the
    # key probe and the union see one type
    source = source.withColumns({c: F.col(c).cast("string") for c in part_cols if c in source.columns})
    # distinct keys once; reused by the probe and the anti-join rewrite
    # (Catalyst broadcasts when small, shuffles when not). NULL keys need
    # no special casing: equality joins never match them, so a NULL-keyed
    # target row always survives and a NULL-keyed source row is a pure
    # insert — MERGE ON semantics
    keys = source.select(*on).distinct()
    # single-column key with a bounded distinct set → collect the values
    # and push an In filter into the scan (footer-stats file skipping);
    # the limit(N+1) probe is the only extra job and reads just the delta
    pushdown_vals: list | None = None
    if len(on) == 1:
        sample = keys.limit(_MERGE_PUSHDOWN_KEYS + 1).collect()
        if len(sample) <= _MERGE_PUSHDOWN_KEYS:
            # NULLs never match; a NULL inside isin() would turn the
            # survivors' negation into NULL and drop innocent rows
            pushdown_vals = [r[0] for r in sample if r[0] is not None]
    affected: list[str] = []
    matched_rows = 0
    if rels:
        scan = _scan_with_string_parts(spark, out_dir, table, rels, part_cols)
        if pushdown_vals is not None:
            per_file = (
                scan.where(F.col(on[0]).isin(pushdown_vals))
                .groupBy(F.input_file_name().alias("_uri"))
                .count()
                .collect()
                if pushdown_vals
                else []
            )
        else:
            # project input_file_name over the single-source scan BEFORE
            # the join: with the source being a scan itself (it usually
            # is — a corrected slice of the same table), the expression
            # would otherwise sit above two file sources and fail analysis
            tagged = scan.select(F.input_file_name().alias("_uri"), *on)
            per_file = tagged.join(keys, on, "left_semi").groupBy("_uri").count().collect()
        affected = sorted(_uri_to_rel(r["_uri"], out_dir) for r in per_file)
        matched_rows = int(sum(r["count"] for r in per_file))
    out_rows = source
    if affected:
        aff = _scan_with_string_parts(spark, out_dir, table, affected, part_cols)
        if pushdown_vals is not None:
            k = F.col(on[0])
            survivors = aff.where(~k.isin(pushdown_vals) | k.isNull())
        else:
            survivors = aff.join(keys, on, "left_anti")
        out_rows = survivors.unionByName(source, allowMissingColumns=True)
    try:
        adopted = _stage_and_adopt(out_rows, out_dir, table, part_cols, f"mrg{cid}", tmp_root)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    if not affected and not adopted:
        # nothing matched, nothing to insert — like delete_where's
        # no-match case, commit nothing
        return {"matched_rows": 0, "files_rewritten": 0, "snapshot_id": None}
    summary = {
        f"{table}_matched_rows": matched_rows,
        f"{table}_files_rewritten": len(affected),
        f"{table}_files_added": len(adopted),
    }
    snap = commit_snapshot(
        out_dir,
        added={table: adopted},
        removed={table: affected},
        op="overwrite" if affected else "append",
        summary=summary,
    )
    return {
        "matched_rows": matched_rows,
        "files_rewritten": len(affected),
        "snapshot_id": snap["snapshot_id"],
        "summary": summary,
    }


def equality_delete(
    spark: SparkSession,
    out_dir: str,
    predicate: str,
    keys: tuple = ("doc_sha",),
    tables: tuple = TABLES,
) -> dict:
    """Merge-on-read row-level DELETE — Iceberg v2 EQUALITY DELETE
    files, the write-cheap dual of :func:`delete_where`'s copy-on-write:
    instead of rewriting every affected data file NOW, commit one tiny
    parquet of matched key tuples per table; readers
    (:func:`read_table_at`) mask matching rows on the fly, scoped by
    sequence number so later re-inserts of the key are NOT masked.

    The 100 TB trade: a takedown touching a handful of doc_shas costs
    O(matched keys) at write time — no petabyte file rewrites on the
    takedown's deadline — and a small anti-join tax on every read until
    :func:`materialize_deletes` folds the masks into the data files
    during scheduled maintenance (Iceberg's compaction does the same).
    ``rewrite_data_files`` and ``expire_snapshots`` refuse to run with
    pending deletes: both re-sequence or drop the history the sequence
    rule depends on — materialize first, exactly Iceberg's guidance.

    Physical purge discipline is unchanged from CoW: the masked rows
    still sit in the data files until materialize + expire.
    """
    from pyspark.sql import functions as F

    if current_snapshot_id(out_dir) is None:
        raise ValueError("equality_delete needs a snapshot log (run a pipeline batch first)")
    if not keys:
        raise ValueError("equality_delete needs at least one key column")
    import shutil

    cid = uuid.uuid4().hex[:8]
    tmp_root = os.path.join(out_dir, f"_eqdel_tmp-{cid}")
    delete_added: dict[str, list[str]] = {}
    summary: dict[str, int] = {}
    head = current_snapshot_id(out_dir)
    snaps = _load_by_id(out_dir)
    try:
        for t in tables:
            # harvest keys from the MASKED view, not the raw physical
            # scan: a repeat takedown must not re-collect a key from an
            # already-masked row at a NEWER sequence — that would mask a
            # legitimately re-inserted row (code-review r5)
            pending = _pending_deletes(snaps, head, t)
            file_seq = _resolve_with_seq(snaps, head, t)
            if not file_seq:
                continue
            if pending:
                scan = _apply_eq_deletes(spark, out_dir, t, file_seq, pending)
            else:
                scan = _scan_files(spark, out_dir, t, sorted(file_seq))
            hit = F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
            matched = scan.where(hit).select(*keys).distinct()
            tmp_t = os.path.join(tmp_root, t)
            matched.coalesce(1).write.mode("overwrite").parquet(tmp_t)
            part = [f for f in sorted(os.listdir(tmp_t)) if f.endswith(".parquet")]
            # count from the tiny written file — no second scan of the table
            n_keys = spark.read.parquet(tmp_t).count() if part else 0
            if n_keys == 0:
                continue
            dest_dir = os.path.join(out_dir, EQ_DELETE_DIR, t)
            os.makedirs(dest_dir, exist_ok=True)
            rel = os.path.join(EQ_DELETE_DIR, t, f"eqdel{cid}-{part[0]}")
            os.rename(os.path.join(tmp_t, part[0]), os.path.join(out_dir, rel))
            delete_added[t] = [rel]
            summary[f"{t}_deleted_keys"] = int(n_keys)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    if not delete_added:
        return {"deleted_keys": 0, "snapshot_id": None}
    snap = commit_snapshot(
        out_dir, added={}, op="eq-delete", summary=summary, delete_added=delete_added
    )
    return {
        "deleted_keys": sum(summary.values()),
        "snapshot_id": snap["snapshot_id"],
        "summary": summary,
    }


def materialize_deletes(spark: SparkSession, out_dir: str, tables: tuple = TABLES) -> dict:
    """Fold pending equality deletes into the data files (Iceberg:
    compaction materializing delete files): every data file a delete
    applies to is rewritten without its masked rows, in one partitionBy
    job per table, then a single ``op="replace"`` snapshot removes the
    delete files from the pending set — row-preserving for HEAD readers
    (the rows were already invisible), so incremental scans skip it like
    any compaction. After this, reads are back to the plain single scan
    and ``rewrite_data_files`` / ``expire_snapshots`` run normally."""
    import shutil

    head = current_snapshot_id(out_dir)
    if head is None:
        raise ValueError("materialize_deletes needs a snapshot log")
    snaps = _load_by_id(out_dir)
    cid = uuid.uuid4().hex[:8]
    tmp_root = os.path.join(out_dir, f"_eqdel_tmp-{cid}")
    added: dict[str, list[str]] = {}
    removed: dict[str, list[str]] = {}
    delete_removed: dict[str, list[str]] = {}
    summary: dict[str, int] = {}
    try:
        for t in tables:
            dels = _pending_deletes(snaps, head, t)
            if not dels:
                continue
            file_seq = _resolve_with_seq(snaps, head, t)
            delete_removed[t] = [d for d, _s in dels]
            # probe: only files that HOLD a masked row are rewritten
            # (applicable-but-clean files keep their physical identity).
            # One scan per KEY SCHEMA, not per delete file — K same-key
            # takedowns cost one pass, not K. Null-safe and missing-
            # column-as-null to match the read-side mask exactly; a file
            # the union over-flags (its only hits come from deletes newer
            # than it) is rewritten content-identically — wasted IO, never
            # wrong rows, since the rewrite itself applies only the
            # per-file applicable deletes
            from functools import reduce

            from pyspark.sql import functions as F

            by_schema: dict[tuple, list] = {}
            for d_rel, dseq in dels:
                kdf = spark.read.parquet(os.path.join(out_dir, d_rel))
                by_schema.setdefault(tuple(kdf.columns), []).append((kdf, dseq))
            hit: set[str] = set()
            for cols, items in sorted(by_schema.items()):
                max_seq = max(dseq for _k, dseq in items)
                cands = sorted(r for r, aseq in file_seq.items() if aseq < max_seq)
                if not cands:
                    continue
                keys = items[0][0]
                for kdf, _s in items[1:]:
                    keys = keys.unionByName(kdf)
                keys = keys.distinct()
                scan = _scan_files(spark, out_dir, t, cands)
                tagged = scan.select(
                    F.input_file_name().alias("_uri"),
                    *[c for c in cols if c in scan.columns],
                )
                for c, dtype in keys.dtypes:
                    if c not in tagged.columns:
                        tagged = tagged.withColumn(c, F.lit(None).cast(dtype))
                cond = reduce(
                    lambda a, b: a & b, [tagged[c].eqNullSafe(keys[c]) for c in cols]
                )
                rows = (
                    tagged.join(F.broadcast(keys), cond, "left_semi")
                    .select("_uri")
                    .distinct()
                    .collect()
                )
                hit |= {_uri_to_rel(r["_uri"], out_dir) for r in rows}
            affected = sorted(hit)
            if not affected:
                continue
            keep = _apply_eq_deletes(
                spark, out_dir, t, {r: file_seq[r] for r in affected}, dels
            )
            part_cols = _part_cols_for(out_dir, t, affected[0])
            added[t] = _stage_and_adopt(keep, out_dir, t, part_cols, f"mat{cid}", tmp_root)
            removed[t] = affected
            summary[f"{t}_files_rewritten"] = len(affected)
            summary[f"{t}_delete_files_folded"] = len(dels)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    if not any(delete_removed.values()):
        return {"files_rewritten": 0, "snapshot_id": None}
    snap = commit_snapshot(
        out_dir,
        added=added,
        removed=removed,
        op="replace",
        summary=summary,
        delete_removed=delete_removed,
    )
    return {
        "files_rewritten": sum(v for k, v in summary.items() if k.endswith("_files_rewritten")),
        "snapshot_id": snap["snapshot_id"],
        "summary": summary,
    }


def snapshots_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """Iceberg's ``table$snapshots`` metadata table: one row per retained
    snapshot (id, sequence, parent, op, batch, commit time, per-table
    added/removed file counts), newest first."""
    rows = [
        (
            s["snapshot_id"],
            int(s["sequence"]),
            s["parent_id"],
            s["op"],
            s.get("batch_id"),
            int(s["created_at_ms"]),
            {t: len(fs) for t, fs in s["added"].items()},
            {t: len(fs) for t, fs in s["removed"].items()},
            {k: int(v) for k, v in s.get("summary", {}).items()},
            s["snapshot_id"] == current_snapshot_id(out_dir),
        )
        for s in list_snapshots(out_dir)
    ]
    from pyspark.sql import functions as F

    schema = (
        "snapshot_id string, sequence int, parent_id string, op string, "
        "batch_id string, created_at_ms long, added_files map<string,int>, "
        "removed_files map<string,int>, summary map<string,long>, is_current boolean"
    )
    return spark.createDataFrame(rows, schema).orderBy(F.col("sequence").desc())


def refs_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """Iceberg's ``table$refs`` metadata table: one row per named ref —
    every tag and branch plus the implicit ``main`` HEAD — with the
    snapshot it points at and whether that snapshot is still retained
    (a dangling ref survives expiration as a name but resolves nothing)."""
    snaps = _load_by_id(out_dir)
    rows = []
    head = current_snapshot_id(out_dir)
    if head is not None:
        rows.append(("main", "branch", head, head in snaps))
    rows += [(n, "branch", s, s in snaps) for n, s in sorted(list_branches(out_dir).items())]
    rows += [(n, "tag", s, s in snaps) for n, s in sorted(list_tags(out_dir).items())]
    return spark.createDataFrame(
        rows, "name string, type string, snapshot_id string, is_retained boolean"
    ).orderBy("type", "name")


def files_table(
    spark: SparkSession, out_dir: str, snapshot_id: str | None = None, tables: tuple = TABLES
) -> DataFrame:
    """Iceberg's ``table$files``: one row per data file in a snapshot
    (default HEAD) with its table, partition leaf, and on-disk size —
    the observability view behind compaction decisions."""
    rows = []
    for t in tables:
        for rel in resolve_files(out_dir, t, snapshot_id):
            p = os.path.join(out_dir, rel)
            size = os.path.getsize(p) if os.path.exists(p) else None
            rows.append((t, rel, os.path.dirname(rel), size))
    return spark.createDataFrame(
        rows, "table string, path string, leaf string, bytes long"
    )
