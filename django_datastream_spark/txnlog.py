"""Optimistic multi-writer concurrency: a versioned commit log.

Closes the engine's documented single-writer limitation (the reference
kept per-stream locks; SURVEY §2.8 T5) with the standard lakehouse
recipe — a ``_txn_log/`` directory of immutable, monotonically
numbered commit files, where CREATING commit file N is the one atomic
commit point (mutual exclusion via the filesystem's create-exclusive
primitive, the same contract Delta Lake relies on for HDFS/ABFS and
emulates with a coordinator on S3):

- ``v0000000042.json`` — commit 42: the files it ADDS, the files it
  REMOVES, the operation kind, and the partition values it touched.
- ``checkpoint-v0000000040.json`` — full snapshot every
  ``CHECKPOINT_EVERY`` commits so readers fold O(10) tail commits, not
  the whole history. Small tables inline the file list in the JSON;
  past :data:`PARQUET_CHECKPOINT_AT` live files the list moves to a
  sibling PARQUET checkpoint (one row per live file: rel + stats + dv,
  Delta's parquet checkpoint) that loads as a columnar scan — and the
  fold itself stays an Arrow table end to end (:func:`_fold_arrow`),
  with data skipping executed as a distributed Spark job past
  :data:`DISTRIBUTED_PRUNE_AT` files, so neither the checkpoint parse
  nor the prune is ever an O(n_files) driver-Python loop.

Commit protocol (``commit``): write the payload to a temp file, then
``os.link`` it to the target version name — link fails atomically if a
competing writer took that version, and the linked content is already
complete, so a torn commit file can never become visible. On a lost
race the writer REBASES: re-reads the intervening commits and either
retries at the next version (no logical conflict) or raises
:class:`CommitConflictError` (the caller re-runs its whole
read-compute-write cycle against the new snapshot — optimistic
concurrency, not blocking).

Conflict rules (Delta's isolation-level table, per operation kind —
"touches a file" means removes it OR lands a deletion vector on it):

- **append** (no removes, no read dependency): NEVER conflicts;
  always rebases onto the latest version. Two concurrent ingest
  writers both land. With ``app_txn`` stamps, a duplicate micro-batch
  of the same writer app is refused instead (exactly-once sinks).
- **merge / rewrite**: conflicts if an intervening commit (a) touched
  any file this transaction touches (the rewrite raced another
  rewrite/vector of the same data), or (b) touched any PARTITION in
  this transaction's footprint — adds OR removes, so an insert-only
  merge still conflicts with a rival writing the same partition (two
  insert-only merges of one fresh key cannot both land). Disjoint-
  partition merges rebase and both land. Isolation matches Delta's
  WriteSerializable: a partition a merge READ but wrote nothing to is
  not tracked, so a no-output decision can be stale under a racing
  delete there — callers needing full serializability declare such
  partitions explicitly via ``commit(partitions=...)``.
- **delete / update** (deletion-vector commits): conflict only on
  touched-file overlap — row-level ops on one file serialize; appends
  into the same partition commute (the op applies to the snapshot it
  read).
- **optimize** (layout-only, dataChange=false): conflicts only on
  touched-file overlap; commutes with appends — rows in == rows out.

Data files are written RACE-FREE via a per-transaction staging
directory then hard-linked into the table tree under unique names
(``stage_files``) — never discovered by before/after directory
listings, which are racy the moment there are two writers.

Readers (``txn_read``) fold checkpoint + tail into an explicit file
list — concurrent writers are invisible until their single commit
file lands, so reads are snapshot-isolated, and ``version=`` gives
log-based time travel. At 100 TB the log is metadata-sized (one small
JSON per commit, checkpoints bound the fold) and the data path is
untouched Spark parquet I/O.

Data skipping (Delta's per-file stats, the second half of the
lakehouse recipe): ``commit`` records per-file column min/max/null
stats in the commit entry — read from the parquet FOOTERS of the
files just staged (KB of metadata, no data scan; the footer stats
were computed by the executors that wrote the files, so the driver
does no per-row work). ``txn_read(where={col: (lo, hi)})`` consults
the folded stats and hands Spark only the files whose range can
intersect the predicate — at 100 TB a time-bounded read of an
append-mostly table touches the handful of files that cover the
window instead of listing-and-footer-probing millions. Pruning is
always CONSERVATIVE (files without usable stats are kept) and the
predicate is re-applied to the surviving rows, so ``where`` never
changes results — only I/O.

STORAGE REACH (round 11): every filesystem touch resolves a per-root
FileIO (:func:`_root` / :func:`_io` / :func:`_store`) — POSIX tables
keep the exact historic behavior including the process-global
LogStore override, while a root whose scheme has a registered FileIO
(object stores) runs the WHOLE tier through object verbs: commits
via the store's conditional PUT, staging promoted with server-side
copy+delete, footers/bloom sidecars through ranged reads, object-
store init via one conditional PUT (an adopt commit, or a ``.init``
log marker for empty tables) instead of a directory rename. Driver-
only adapters (HadoopFileIO) degrade the distributed prune/bloom
build to bounded driver loops — the ``executor_safe`` rule.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from .operators.merge import _local_root

TXN_DIR = "_txn_log"
CHECKPOINT_EVERY = 10
# Live-file count at which checkpoints switch from inline JSON to a
# sibling PARQUET file (one row per live file: rel + stats/dv as JSON
# strings).  Delta's parquet checkpoint exists for the same reason: at
# millions of files a single JSON blob is a multi-GB driver parse per
# cold read, while a parquet checkpoint loads as a columnar scan and
# (above DISTRIBUTED_PRUNE_AT) prunes as a distributed job.  Below the
# threshold the legacy inline-JSON checkpoint is still written — both
# formats stay readable forever.
PARQUET_CHECKPOINT_AT = 512
# Snapshot file count at which txn_read's data skipping runs as a
# Spark mapInPandas job (stats + bloom + partition tests executor-side,
# only SURVIVORS returned to the driver) instead of a driver loop.
DISTRIBUTED_PRUNE_AT = 10_000
# data skipping indexes the FIRST N leaf columns (schema order), like
# Delta's dataSkippingNumIndexedCols: on a 1000-column table, per-file
# stats for every column would bloat each commit entry (and checkpoint)
# far past metadata size — lead with the columns queries filter on
STATS_MAX_COLS = 32


class CommitConflictError(RuntimeError):
    """Another writer committed a logically conflicting change; re-run
    the read-compute-write cycle against the current snapshot."""


class LogStore:
    """Pluggable I/O for the COMMIT LOG (Delta's LogStore seam) — the
    one integration point an object-store deployment replaces.

    The protocol's entire mutual-exclusion burden rests on
    :meth:`put_if_absent`: atomically publish COMPLETE content at a
    path iff nothing exists there, raising ``FileExistsError`` when a
    rival already took the name (a torn or partial file must never
    become visible).  Everything else is plain read/list/overwrite of
    metadata-sized objects.

    Contracts per backend:

    - **Local / HDFS / ABFS** (:class:`LocalLogStore`, the default):
      create-exclusive via hard-link from a temp file — these
      filesystems provide atomic create-if-absent natively.
    - **S3**: implement ``put_if_absent`` as a conditional PUT with
      ``If-None-Match: *`` (supported natively since late 2024 —
      a 412 response maps to ``FileExistsError``); ``list`` via
      ListObjectsV2 (strongly consistent); ``put_atomic`` is a plain
      PUT (single-object puts are atomic).  Before conditional PUT,
      the standard recipe was an external coordinator holding the
      name→winner mapping (Delta's S3DynamoDBLogStore); such a
      coordinator also satisfies this interface.

    Scope: the seam covers the LOG (commit files + checkpoints) — the
    race-sensitive part of the protocol.  Data-file staging and vacuum
    walk the table filesystem directly; on an object store those are
    plain unique-name puts/deletes (no atomicity needed beyond one
    object) wired through Spark's own Hadoop filesystem layer.
    """

    def list(self, dirpath: str) -> list[str]:
        """Names in ``dirpath`` ([] when it doesn't exist)."""
        raise NotImplementedError

    def read(self, path: str) -> bytes:
        raise NotImplementedError

    def put_if_absent(self, path: str, data: bytes) -> None:
        """Atomically create ``path`` with ``data`` iff absent; raise
        ``FileExistsError`` if a rival won the name. THE commit point."""
        raise NotImplementedError

    def put_atomic(self, path: str, data: bytes) -> None:
        """Atomically (over)write ``path`` — for derived, idempotent
        artifacts (checkpoints), where last-writer-wins is correct."""
        raise NotImplementedError


class LocalLogStore(LogStore):
    """Default store: POSIX rename/link semantics (local FS; HDFS and
    ABFS honor the same create-exclusive contract)."""

    def list(self, dirpath: str) -> list[str]:
        try:
            return os.listdir(dirpath)
        except FileNotFoundError:
            return []

    def read(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def put_if_absent(self, path: str, data: bytes) -> None:
        d = os.path.dirname(path)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            # link fails atomically if a competing writer took the
            # name, and the linked content is already complete
            os.link(tmp, path)
        finally:
            os.unlink(tmp)

    def put_atomic(self, path: str, data: bytes) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)


_LOG_STORE: LogStore = LocalLogStore()


def get_log_store() -> LogStore:
    return _LOG_STORE


def set_log_store(store: LogStore) -> LogStore:
    """Install a LogStore (returns the previous one, for restoring)."""
    global _LOG_STORE
    prev = _LOG_STORE
    _LOG_STORE = store
    return prev


def _io(table_root: str):
    """The FileIO serving this table root (scheme registry; plain
    paths and file: URIs → LocalFileIO)."""
    from .sources.fileio import io_for

    return io_for(table_root)


def _is_local(io) -> bool:
    from .sources.fileio import LocalFileIO

    return type(io) is LocalFileIO


def _root(table_root: str) -> str:
    """Storage-agnostic table root: POSIX paths and file: URIs
    normalize through :func:`..operators.merge._local_root`; a path
    whose scheme has a REGISTERED FileIO stays verbatim — the FileIO
    owns the mapping, and every filesystem touch below goes through
    it. Unregistered remote schemes still raise with guidance
    (io_for's contract)."""
    if "://" in table_root and not table_root.startswith("file:"):
        _io(table_root)  # raises for unregistered schemes
        return table_root
    return _local_root(table_root)


def _store(path: str) -> LogStore:
    """The commit-point store for ``path`` — ONE copy of the routing
    rule (:func:`..logstores.log_store_for`): POSIX roots keep the
    process-global store (deployment overrides keep governing), any
    other FileIO commits through itself."""
    from .logstores import log_store_for

    return log_store_for(_io(path))


def _cp_list(log: str) -> list[int]:
    """Checkpoint versions present in the log, via the store."""
    return [
        int(n[len("checkpoint-v"):-5])
        for n in _store(log).list(log)
        if n.startswith("checkpoint-v") and n.endswith(".json")
    ]


def _read_checkpoint(log: str, v: int) -> dict:
    return json.loads(
        _store(log).read(os.path.join(log, f"checkpoint-v{v:010d}.json"))
    )


def _log_dir(table_root: str) -> str:
    return os.path.join(_root(table_root), TXN_DIR)


def _vname(v: int) -> str:
    return f"v{v:010d}.json"


def is_txn_table(table_root: str) -> bool:
    return _io(table_root).is_dir(_log_dir(table_root))


def init_table(table_root: str) -> None:
    """Create the log (version 0 = empty table). Existing data files
    (a pre-txn table) are adopted as commit 1 — through the old
    ``_MANIFEST`` when one exists, so crash-window orphans a previous
    single-writer merge left on disk are NOT adopted as live data
    (they stay orphans for txn_vacuum), matching what read_committed
    showed before the upgrade.

    Concurrency-safe: the log is BUILT in a hidden temp dir (adopt
    commit included) and published with one atomic ``os.rename`` — a
    racing initializer either wins the rename or sees the winner's
    complete log; no window where the log exists without the adoption
    commit (which would make pre-existing data silently invisible)."""
    root = _root(table_root)
    io = _io(table_root)
    log = _log_dir(table_root)
    if not _is_local(io):
        # OBJECT-STORE init: there is no directory rename, but none is
        # needed — the adopt commit (or, for an empty table, a marker
        # object that makes the log prefix visible) lands via ONE
        # conditional PUT, so the log becomes visible atomically WITH
        # its adoption commit; a racing initializer loses the CAS and
        # the winner's log is authoritative. The marker's name never
        # matches v*.json / checkpoint-v*, so every fold ignores it.
        if io.is_dir(log):
            return
        existing = sorted(
            rel
            for rel in (io.walk_files(root) if io.is_dir(root) else [])
            if rel.endswith(".parquet")
            and not rel.split(os.sep)[0].startswith(("_", "."))
        )
        try:
            if existing:
                io.put_if_absent(
                    os.path.join(log, _vname(1)),
                    json.dumps(
                        {
                            "version": 1,
                            "op": "adopt",
                            "adds": existing,
                            "removes": [],
                            "partitions": [],
                            "writer": "init",
                            "base_version": 0,
                        }
                    ).encode("utf-8"),
                )
            else:
                io.put_if_absent(os.path.join(log, ".init"), b"")
        except FileExistsError:
            pass  # lost the init race: the winner's log governs
        return
    os.makedirs(root, exist_ok=True)
    if os.path.isdir(log):
        return
    from .operators.merge import _list_data_files, read_manifest

    m = read_manifest(table_root)
    existing = (
        sorted(m["files"])
        if m is not None
        else sorted(_list_data_files(table_root))
    )
    tmp = os.path.join(root, f".{TXN_DIR}.init-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    if existing:
        with open(os.path.join(tmp, _vname(1)), "w") as f:
            json.dump(
                {
                    "version": 1,
                    "op": "adopt",
                    "adds": existing,
                    "removes": [],
                    "partitions": [],
                    "writer": "init",
                    "base_version": 0,
                },
                f,
            )
    try:
        os.rename(tmp, log)
    except OSError:
        # lost the init race — the winner's log is authoritative
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(log):
            raise


def latest_version(table_root: str) -> int:
    log = _log_dir(table_root)
    best = 0
    for n in _store(log).list(log):
        if n.startswith("v") and n.endswith(".json"):
            best = max(best, int(n[1:-5]))
    return best


def _read_commit(table_root: str, v: int) -> dict:
    return json.loads(
        _store(table_root).read(
            os.path.join(_log_dir(table_root), _vname(v))
        )
    )


def snapshot(table_root: str, version: int | None = None) -> tuple[int, set[str]]:
    """(version, committed file set) at ``version`` (default: latest).
    Starts from the newest checkpoint <= version, folds the tail."""
    v, m = snapshot_with_stats(table_root, version)
    return v, set(m)


def snapshot_with_stats(
    table_root: str, version: int | None = None
) -> tuple[int, dict[str, dict | None]]:
    """Like :func:`snapshot` but maps each committed file to its
    recorded column stats (``None`` for files committed before stats
    existed or whose footer yielded nothing usable — such files are
    never pruned)."""
    v, files, _dv = _fold(table_root, version)
    return v, files


def snapshot_dv(
    table_root: str, version: int | None = None
) -> tuple[int, dict[str, list[dict]]]:
    """Deletion vectors at ``version``: committed file → list of
    ``{"dv": <sidecar rel dir>, "n": <positions in it for this
    file>}`` entries. Positions themselves live in the sidecar
    parquet and are only ever read by Spark scans."""
    v, _files, dv = _fold(table_root, version)
    return v, dv


def app_txn_watermarks(
    table_root: str, version: int | None = None
) -> dict[str, int]:
    """Per-writer-app transaction watermarks (Delta's SetTransaction):
    app id → highest batch id committed. The idempotence ledger for
    exactly-once streaming sinks."""
    log = _log_dir(table_root)
    head = latest_version(table_root)
    v = head if version is None else version
    start, wm = 0, {}
    cps = _cp_list(log)
    usable = [c for c in cps if c <= v]
    if usable:
        start = max(usable)
        wm = dict(_read_checkpoint(log, start).get("app_txns") or {})
    for i in range(start + 1, v + 1):
        c = _read_commit(table_root, i)
        at = c.get("app_txn")
        if at:
            app, batch = at["app"], at["batch"]
            if wm.get(app, -1) < batch:
                wm[app] = batch
    return wm


class SchemaMismatchError(RuntimeError):
    """Append schema is incompatible with the committed table schema
    (type conflict, or new columns without ``merge_schema=True``)."""


def table_schema_json(table_root: str, version: int | None = None) -> str | None:
    """The committed table schema (StructType JSON) at ``version``
    (default latest): the newest commit <= version carrying a
    ``schema`` entry, falling back to the nearest checkpoint's.
    ``None`` for tables that predate schema tracking (adopted logs) —
    enforcement and schema-directed reads are then skipped, exactly
    the pre-tracking behavior."""
    log = _log_dir(table_root)
    head = latest_version(table_root)
    v = head if version is None else version
    cps = _cp_list(log)
    usable = [c for c in cps if c <= v]
    floor = max(usable) if usable else 0
    for i in range(v, floor, -1):
        s = _read_commit(table_root, i).get("schema")
        if s:
            return s
    if floor:
        return _read_checkpoint(log, floor).get("schema")
    return None


def table_schema(table_root: str, version: int | None = None):
    """:func:`table_schema_json` parsed to a ``StructType`` (or None)."""
    from pyspark.sql import types as T

    s = table_schema_json(table_root, version)
    return T.StructType.fromJson(json.loads(s)) if s else None


def _nullable_json(schema) -> str:
    """StructType → JSON with every top-level field nullable: the
    recorded read schema must accept files that legally omit a column
    (pre-evolution files, appends of a column subset)."""
    from pyspark.sql import types as T

    return json.dumps(
        T.StructType(
            [
                T.StructField(f.name, f.dataType, True, f.metadata)
                for f in schema.fields
            ]
        ).jsonValue()
    )


def _check_schema(table_root: str, df_schema, merge_schema: bool) -> str | None:
    """Schema ENFORCEMENT at the append boundary (Delta's contract):
    every appended column must exist in the committed schema with the
    same type (nullability ignored; compared by ``simpleString`` so
    nested nullability differences don't false-positive). Appending a
    COLUMN SUBSET is legal — readers null-fill through the recorded
    schema. New columns require ``merge_schema=True`` (EVOLUTION) and
    return the widened schema JSON to record with the commit; returns
    None when the committed schema already covers the append."""
    cur = table_schema(table_root)
    if cur is None:
        # first schema-tracked append: record it only when the table
        # holds no committed data, otherwise df may be a SUBSET of the
        # real on-disk schema and recording it would silently drop
        # columns from every future schema-directed read
        _, files = snapshot(table_root)
        return _nullable_json(df_schema) if not files else None
    by_name = {f.name: f for f in cur.fields}
    new = []
    for f in df_schema.fields:
        have = by_name.get(f.name)
        if have is None:
            new.append(f)
        elif have.dataType.simpleString() != f.dataType.simpleString():
            raise SchemaMismatchError(
                f"column {f.name}: table has {have.dataType.simpleString()},"
                f" append has {f.dataType.simpleString()} — cast before"
                " appending (types never evolve implicitly)"
            )
    if not new:
        return None
    if not merge_schema:
        raise SchemaMismatchError(
            f"append adds columns {[f.name for f in new]} not in the table"
            " schema; pass merge_schema=True to evolve"
        )
    from pyspark.sql import types as T

    return _nullable_json(T.StructType(list(cur.fields) + new))


class ConstraintViolationError(RuntimeError):
    """A write would commit rows that fail an enforced CHECK
    constraint; nothing was committed (staged files await vacuum)."""


def table_constraints(
    table_root: str, version: int | None = None
) -> dict[str, str]:
    """Enforced CHECK constraints at ``version``: name → SQL boolean
    expression. Folded checkpoint-bounded like the file set (adds and
    drops replay in commit order from the nearest checkpoint)."""
    log = _log_dir(table_root)
    head = latest_version(table_root)
    v = head if version is None else version
    cps = _cp_list(log)
    usable = [c for c in cps if c <= v]
    floor = max(usable) if usable else 0
    out: dict[str, str] = {}
    if floor:
        out = dict(_read_checkpoint(log, floor).get("constraints") or {})
    for i in range(floor + 1, v + 1):
        c = _read_commit(table_root, i)
        cc = c.get("constraint")
        if cc:
            if cc.get("drop"):
                out.pop(cc["name"], None)
            else:
                out[cc["name"]] = cc["expr"]
    return out


def _violations(spark, table_root, rels, constraints) -> str | None:
    """First violated constraint name over the given staged files, or
    None. SQL-standard CHECK semantics: NULL passes, only FALSE
    violates. One scan evaluates every constraint (conditional sums in
    a single hash aggregate — N rules cost one pass)."""
    from pyspark.sql import functions as F

    if not constraints or not rels:
        return None
    # schema-directed: a column-SUBSET append still evaluates
    # constraints on its omitted columns (as NULL → passes)
    df = _read_files(
        spark, table_root, rels, schema=table_schema(table_root)
    )
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
        ).alias(n)
        for n, e in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    for n in constraints:
        if (row[n] or 0) > 0:
            return n
    return None


def _enforce_constraints(spark, table_root, adds) -> None:
    """Validate staged ``adds`` against the table's CHECK constraints;
    on violation, unlink the staged files and raise. Runs on the
    STAGED bytes, not the input plan — the (possibly expensive)
    upstream DataFrame is never computed twice."""
    cons = table_constraints(table_root)
    bad = _violations(spark, table_root, adds, cons)
    if bad is None:
        return
    root = _root(table_root)
    io = _io(table_root)
    for a in adds:
        try:
            io.delete(os.path.join(root, a))
        except OSError:
            pass
        try:
            # write-time bloom sidecars follow their staged file
            io.delete(os.path.join(root, _bloom_sidecar(a)))
        except OSError:
            pass
    raise ConstraintViolationError(
        f"rows violate CHECK constraint {bad!r} ({cons[bad]}); "
        "nothing committed"
    )


def txn_add_constraint(
    spark: SparkSession,
    table_root: str,
    name: str,
    expr: str,
    writer: str = "",
) -> int:
    """ALTER TABLE ADD CONSTRAINT (Delta CHECK parity): record an
    enforced boolean SQL ``expr``; every subsequent append/update must
    satisfy it (NULL passes, FALSE rejects — SQL CHECK semantics).
    EXISTING data is validated first, in one scan — a constraint the
    current rows violate is refused, so holders are never lied to.
    Metadata-only commit (``data_change=False``)."""
    init_table(table_root)
    if name in table_constraints(table_root):
        raise ValueError(f"constraint {name!r} already exists")
    _, m = snapshot(table_root)
    bad = _violations(spark, table_root, sorted(m), {name: expr})
    if bad is not None:
        raise ConstraintViolationError(
            f"existing rows violate {name!r} ({expr}); constraint not added"
        )
    return commit(
        table_root,
        [],
        [],
        "add_constraint",
        [],
        base_version=latest_version(table_root),
        writer=writer or "add_constraint",
        stats={},
        data_change=False,
        constraint={"name": name, "expr": expr},
    )


def txn_drop_constraint(table_root: str, name: str, writer: str = "") -> int:
    """ALTER TABLE DROP CONSTRAINT: stop enforcing ``name``."""
    if name not in table_constraints(table_root):
        raise ValueError(f"no constraint {name!r}")
    return commit(
        table_root,
        [],
        [],
        "drop_constraint",
        [],
        base_version=latest_version(table_root),
        writer=writer or "drop_constraint",
        stats={},
        data_change=False,
        constraint={"name": name, "drop": True},
    )


def _check_partition_cols(table_root: str, partition_cols) -> None:
    """Partition layout is TABLE METADATA (Delta's contract): every
    write must use the layout the committed files established. A mixed
    root-level + hive-dir file set is not just ugly — Spark's
    partition discovery silently DROPS the root-level files' rows when
    both shapes meet one scan, so allowing a divergent append would be
    committed data loss."""
    _, files = snapshot(table_root)
    if not files:
        return
    est = _partition_cols_of(sorted(files))
    if list(partition_cols or []) != est:
        raise ValueError(
            f"table is partitioned by {est}; this write declares "
            f"{list(partition_cols or [])} — partition layout is table "
            "metadata and cannot vary per write"
        )


def txn_set_schema(table_root: str, schema, writer: str = "") -> int:
    """Explicit ALTER TABLE-style schema commit (metadata only, no
    data files): set the recorded schema to ``schema``. Existing
    columns must keep their types (same rule as append enforcement);
    use it to add nullable columns up front, or to backfill schema
    tracking onto an adopted pre-tracking table whose full schema the
    caller knows. ``data_change=False`` — CDF and streaming consumers
    skip it."""
    cur = table_schema(table_root)
    if cur is not None:
        by_name = {f.name: f for f in schema.fields}
        for f in cur.fields:
            have = by_name.get(f.name)
            if have is None:
                raise SchemaMismatchError(
                    f"new schema drops column {f.name}; column drops don't"
                    " evolve (rewrite the table instead)"
                )
            if have.dataType.simpleString() != f.dataType.simpleString():
                raise SchemaMismatchError(
                    f"column {f.name}: {f.dataType.simpleString()} → "
                    f"{have.dataType.simpleString()} type changes don't evolve"
                )
    init_table(table_root)
    return commit(
        table_root,
        [],
        [],
        "set_schema",
        [],
        base_version=latest_version(table_root),
        writer=writer or "set_schema",
        stats={},
        data_change=False,
        schema_json=_nullable_json(schema),
    )


_FILES_SCHEMA = None  # lazily built pyarrow schema (import cost)


def _files_schema():
    global _FILES_SCHEMA
    if _FILES_SCHEMA is None:
        import pyarrow as pa

        _FILES_SCHEMA = pa.schema(
            [
                ("rel", pa.string()),
                ("stats", pa.string()),  # JSON per-file stats, or null
                ("dv", pa.string()),  # JSON deletion-vector entries, or null
            ]
        )
    return _FILES_SCHEMA


def _fold_arrow(table_root: str, version: int | None = None):
    """The SCALE-PATH fold: (version, pyarrow.Table[rel, stats, dv])
    with stats/dv as JSON strings (null = none).  The checkpoint loads
    as one columnar parquet read (or, for legacy inline-JSON
    checkpoints, one parse) and each tail commit applies as a
    vectorized is_in mask plus a Python rebuild of ONLY the rows that
    commit touched — so fold cost is O(tail activity) in Python and
    O(live files) only in Arrow, never an O(n_files) Python loop.
    Everything metadata-shaped (txn_read, checkpoint writing, the dict
    compat :func:`_fold`) builds on this."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    schema = _files_schema()
    log = _log_dir(table_root)
    head = latest_version(table_root)
    v = head if version is None else version
    if v > head:
        raise ValueError(f"version {v} > latest {head}")
    start = 0
    tbl = pa.Table.from_pydict(
        {"rel": [], "stats": [], "dv": []}, schema=schema
    )
    cps = _cp_list(log)
    usable = [c for c in cps if c <= v]
    if usable:
        start = max(usable)
        cp = _read_checkpoint(log, start)
        fp = cp.get("files_parquet")
        if fp:
            tbl = pq.read_table(
                pa.BufferReader(_store(log).read(os.path.join(log, fp)))
            )
        else:
            rels = cp["files"]
            cp_stats = cp.get("stats") or {}
            cp_dv = cp.get("dv") or {}
            tbl = pa.Table.from_pydict(
                {
                    "rel": rels,
                    "stats": [
                        json.dumps(cp_stats[f]) if cp_stats.get(f) else None
                        for f in rels
                    ],
                    "dv": [
                        json.dumps(cp_dv[f]) if cp_dv.get(f) else None
                        for f in rels
                    ],
                },
                schema=schema,
            )
    for i in range(start + 1, v + 1):
        c = _read_commit(table_root, i)
        removes = set(c["removes"])
        restat = c.get("restat") or {}
        deletes = c.get("deletes") or {}
        adds = c["adds"]
        touched = removes | set(restat) | set(deletes) | set(adds)
        if not touched:
            continue
        mask = pc.is_in(
            tbl.column("rel"),
            value_set=pa.array(sorted(touched), pa.string()),
        )
        keepers = tbl.filter(pc.invert(mask))
        sub = tbl.filter(mask)
        # rebuild the touched rows with EXACTLY the dict-fold
        # semantics, in its order: removes → adds → restat → deletes
        files: dict[str, str | None] = {}
        dvm: dict[str, str | None] = {}
        for rel, st_j, dv_j in zip(
            sub.column("rel").to_pylist(),
            sub.column("stats").to_pylist(),
            sub.column("dv").to_pylist(),
        ):
            files[rel] = st_j
            dvm[rel] = dv_j
        for f in removes:
            files.pop(f, None)
            dvm.pop(f, None)  # rewrite supersedes the vector
        c_stats = c.get("stats") or {}
        for f in adds:
            files[f] = (
                json.dumps(c_stats[f]) if c_stats.get(f) else None
            )
        for f, s in restat.items():
            # ANALYZE backfill: stats recorded after the fact for a
            # still-live file; never overrides commit-time stats
            if f in files and files[f] is None:
                files[f] = json.dumps(s)
        for f, e in deletes.items():
            if f not in files:
                continue  # vector on a non-live file: meaningless
            cur = json.loads(dvm.get(f) or "null") or []
            cur.extend(e if isinstance(e, list) else [e])
            dvm[f] = json.dumps(cur)
        if files:
            add_tbl = pa.Table.from_pydict(
                {
                    "rel": list(files),
                    "stats": [files[f] for f in files],
                    "dv": [dvm.get(f) for f in files],
                },
                schema=schema,
            )
            tbl = pa.concat_tables([keepers, add_tbl])
        else:
            tbl = keepers
    return v, tbl


def _dv_from_arrow(tbl) -> dict[str, list[dict]]:
    """file → deletion-vector entries from a fold table — vectorized
    null filter first, so the Python cost is bounded by the DV'd file
    count (row-level-op activity), not table size."""
    import pyarrow.compute as pc

    sub = tbl.filter(pc.is_valid(tbl.column("dv")))
    out = {}
    for rel, dv_j in zip(
        sub.column("rel").to_pylist(), sub.column("dv").to_pylist()
    ):
        es = json.loads(dv_j)
        if es:
            out[rel] = es
    return out


def _fold(
    table_root: str, version: int | None = None
) -> tuple[int, dict[str, dict | None], dict[str, list[dict]]]:
    """One checkpoint-bounded log fold: (version, file → stats,
    file → deletion-vector entries).  The DICT compat view of
    :func:`_fold_arrow` — right for the metadata-sized ops that need
    per-file Python anyway (vacuum walks the directory, restore diffs
    two snapshots, clone links every file); the scan path (txn_read)
    stays on the Arrow table and never builds these dicts."""
    v, tbl = _fold_arrow(table_root, version)
    files: dict[str, dict | None] = {}
    for rel, st_j in zip(
        tbl.column("rel").to_pylist(), tbl.column("stats").to_pylist()
    ):
        files[rel] = json.loads(st_j) if st_j else None
    return v, files, _dv_from_arrow(tbl)


def _stat_value(v):
    """Footer min/max → (type tag, JSON-able value) with a total order
    per tag, or None when the physical type has no portable ordering
    we trust (then the column is simply not prunable for that file)."""
    import datetime

    if isinstance(v, bool) or isinstance(v, (int, float)):
        return ("num", v)
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, bytes):
        try:
            return ("str", v.decode("utf-8"))
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        # zero-padded ISO-8601 orders identically to the timestamps
        return ("ts", v.isoformat(timespec="microseconds"))
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    return None


# Commit-adds count at which footer-stat collection runs as a Spark
# job (one task batch per file) instead of a driver loop: an OPTIMIZE
# or bulk backfill of a 100 TB table can add tens of thousands of
# files in ONE commit, and even footer-only reads add up.
DISTRIBUTED_STATS_AT = 64


def _stats_of_file(root: str, rel: str, io=None) -> dict | None:
    """Footer stats for one file (None = unreadable footer, file stays
    unprunable). Module-level so the distributed collector's tasks can
    run it unchanged. ``io`` (a picklable FileIO) serves the footer
    through the storage seam — ranged reads, so an object-store file
    never buffers whole for its footer. The one footer reader of every
    log: Delta and Iceberg write paths derive their stats from it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        src = (
            io.parquet_source(os.path.join(root, rel))
            if io is not None
            else os.path.join(root, rel)
        )
        md = pq.ParquetFile(src).metadata
    except (OSError, pa.ArrowException):
        return None  # missing/corrupt footer: file stays unprunable
    per: dict[str, dict | None] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(min(g.num_columns, STATS_MAX_COLS)):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaves: not prunable here
            if name in per and per[name] is None:
                continue  # already poisoned for this file
            st = col.statistics
            nulls = st.null_count if st is not None else None
            if st is None or not st.has_min_max:
                if nulls is not None and nulls == g.num_rows:
                    new: dict | None = {"t": "null", "nulls": nulls}
                else:
                    new = None  # non-null values with no min/max
            else:
                try:
                    # pyarrow raises for physical types it cannot
                    # cast statistics for (e.g. INT96) even when
                    # has_min_max reports true, and for values
                    # Python cannot hold (a year-10000 timestamp)
                    mn, mx = _stat_value(st.min), _stat_value(st.max)
                except (ValueError, OverflowError, pa.ArrowException):
                    mn = mx = None
                if mn is None or mx is None or mn[0] != mx[0]:
                    new = None
                else:
                    new = {
                        "t": mn[0],
                        "min": mn[1],
                        "max": mx[1],
                        "nulls": nulls,
                    }
            per[name] = _merge_col_stats(per.get(name), new)
    cols = {k: v for k, v in per.items() if v is not None}
    return {"rows": md.num_rows, "cols": cols}


def collect_file_stats(
    table_root: str, rel_paths: list[str],
    spark: SparkSession | None = None, io=None,
) -> dict[str, dict]:
    """Per-file column stats from parquet FOOTERS (no data scan).

    For each staged file: row count plus, per top-level primitive
    column, ``{"t", "min", "max", "nulls"}`` merged across row groups.
    A column whose statistics are absent, truncated to an unusable
    type, or mixed-typed is dropped for that file (conservative — the
    file is then kept by any predicate on that column). An all-null
    column is recorded as ``{"t": "null"}``: a range predicate can
    prune the file outright, since SQL comparisons never match NULL.

    With ``spark`` and ≥ :data:`DISTRIBUTED_STATS_AT` files, the
    footer reads run as one Spark job (one task batch per file, the
    bloom-build pattern) and only (rel, stats JSON) rows return —
    write paths pass their session through so a many-file OPTIMIZE or
    backfill commit never serializes footer reads on the driver.
    Driver fallback is bounded by the write job's task count. Only
    the first :data:`STATS_MAX_COLS` leaf columns are indexed
    (Delta's dataSkippingNumIndexedCols) so wide tables keep commit
    entries metadata-sized.

    ``io``: route footer reads through a FileIO (object-store roots).
    A picklable io ships into the distributed tasks; a driver-only
    one (HadoopFileIO) forces the bounded driver loop — the same
    ``executor_safe`` rule the DV/manifest decodes honor."""
    if io is None:
        cand = _io(table_root)
        if not _is_local(cand):
            io = cand  # non-POSIX root: footer reads need the seam
    if io is not None:
        root = table_root if "://" in table_root else _local_root(
            table_root
        )
        if not getattr(io, "executor_safe", True):
            spark = None  # driver-only io: bounded driver fallback
    else:
        root = _local_root(table_root)
    if spark is not None and len(rel_paths) >= DISTRIBUTED_STATS_AT:

        def _task(batches):
            import json as _json

            import pandas as _pd

            from django_datastream_spark import txnlog as TL

            for pdf in batches:
                rels, stats = [], []
                for rel in pdf["rel"]:
                    s = TL._stats_of_file(root, rel, io=io)
                    rels.append(rel)
                    stats.append(_json.dumps(s) if s is not None else None)
                yield _pd.DataFrame({"rel": rels, "stats": stats})

        from .storage import local_rows_df

        fdf = local_rows_df(
            spark, [(r,) for r in rel_paths], "rel string"
        ).repartition(min(len(rel_paths), 4096))
        out = {}
        for r in fdf.mapInPandas(_task, "rel string, stats string").collect():
            if r["stats"]:
                out[r["rel"]] = json.loads(r["stats"])
        return out
    out = {}
    for rel in rel_paths:
        s = _stats_of_file(root, rel, io=io)
        if s is not None:
            out[rel] = s
    return out


def _merge_col_stats(cur: dict | None, new: dict | None) -> dict | None:
    """Fold one row group's column stats into the file accumulator.
    ``None`` poisons (some row group was unusable → not prunable). A
    NaN bound (parquet-mr records ``max=NaN``) survives the fold —
    Python's ``min``/``max`` would drop it or keep it by argument
    order — and proves nothing in :func:`_stat_keeps`."""
    if new is None:
        return None
    if cur is None:
        return new
    nulls = (
        cur["nulls"] + new["nulls"]
        if cur.get("nulls") is not None and new.get("nulls") is not None
        else None
    )
    if cur["t"] == "null":
        other = new if new["t"] != "null" else None
        if other is None:
            return {"t": "null", "nulls": nulls}
        return {**other, "nulls": nulls}
    if new["t"] == "null":
        return {**cur, "nulls": nulls}
    if cur["t"] != new["t"]:
        return None

    def pick(f, a, b):
        return a if a != a else b if b != b else f(a, b)  # NaN wins

    return {
        "t": cur["t"],
        "min": pick(min, cur["min"], new["min"]),
        "max": pick(max, cur["max"], new["max"]),
        "nulls": nulls,
    }


def _as_bound(bound, tag: str):
    """A caller bound in the stored stat domain for ``tag``, or None
    when incomparable (the file is then kept). A string bound on a
    temporal column is read the way Spark casts the literal — an ISO
    date or datetime with a ``'T'`` or ``' '`` separator, naive =
    UTC — so stats and bound compare as instants, never as text."""
    import datetime

    if tag == "num":
        return bound if isinstance(bound, (int, float)) else None
    if tag == "str":
        return bound if isinstance(bound, str) else None
    try:
        if isinstance(bound, str) and tag == "ts":
            bound = datetime.datetime.fromisoformat(bound)
        elif isinstance(bound, str) and tag == "date":
            bound = datetime.date.fromisoformat(bound)
    except ValueError:
        return None
    if tag == "ts" and isinstance(bound, datetime.datetime) or (
        tag == "date" and type(bound) is datetime.date
    ):
        return _stat_value(bound)[1]
    return None


def _stat_keeps(s: dict | None, lo, hi) -> bool:
    """Conservative intersection test of one column's tagged stats
    with ``lo <= col <= hi``: False only when they PROVE no row of
    the file satisfies it.

    NaN, one rule for every log: Spark orders NaN above every number,
    while footers (pyarrow) and Iceberg bounds leave NaN out of a
    float max. So a float max below ``lo`` proves a miss only when a
    numeric ``hi`` also rules NaN rows out; a NaN bound compares
    False and proves nothing."""
    if s is None or lo is None and hi is None:
        return True
    if s["t"] == "null":
        return False  # every value NULL; comparisons never match
    lo_c, hi_c = _as_bound(lo, s["t"]), _as_bound(hi, s["t"])
    mx, mn = s.get("max"), s.get("min")
    if lo_c is not None and mx is not None and mx < lo_c and (
        not isinstance(mx, float) or hi_c is not None and hi_c == hi_c
    ):
        return False
    if hi_c is not None and mn is not None and mn > hi_c:
        return False
    return True


class _In(tuple):
    """A normalized IN-list bound: the tuple of its values. A class,
    not a sentinel, so it survives pickling into prune tasks."""


def _norm_where(where: dict) -> dict[str, tuple]:
    """Normalize a predicate spec: a scalar value means equality —
    ``{col: v}`` ≡ ``{col: (v, v)}`` — a tuple is an inclusive range
    ``(lo, hi)``, and a list/set is an IN-list (normalized to
    :class:`_In`): the multi-key point lookup a CDC apply or key
    backfill does, pruned per value through stats AND bloom."""
    out = {}
    for c, b in where.items():
        if isinstance(b, (list, set, frozenset)):
            out[c] = _In(b)
        elif isinstance(b, tuple):
            out[c] = b
        else:
            out[c] = (b, b)
    return out


def _hive_parts(rel: str) -> dict[str, str]:
    """``col=value`` directory segments of a relative file path."""
    out: dict[str, str] = {}
    for seg in rel.split(os.sep)[:-1]:
        k, eq, v = seg.partition("=")
        if eq:
            out.setdefault(k, v)
    return out


def _part_keeps(got: str | None, value) -> bool:
    """False only when the hive directory value ``got`` PROVABLY
    differs from ``value``. Only plain str/int values compare (their
    hive spelling is exact ``str(v)``); escaped (%xx) or exotic
    spellings keep the file — the residual filter still applies."""
    if got is None or isinstance(value, bool) or not isinstance(
        value, (str, int)
    ):
        return True
    want = str(value)
    return "%" in want or "%" in got or got == want


def _keep_file(
    where_norm: dict, stats: dict | None, parts: dict | None = None,
    bloom=None,
) -> bool:
    """THE data-skipping test of every log (txn, Delta, Iceberg): each
    log translates one file's metadata into tagged column ``stats``
    (``{col: {t, min, max, nulls}}``) plus, for hive paths, partition
    directory values ``parts``. ``bloom(col, lo, hi)`` is an extra
    signal (the txn bloom sidecar). IN-lists test per value — a file
    survives only if SOME value passes every signal. False only on
    PROOF of no match."""
    for c, b in where_norm.items():
        s = (stats or {}).get(c)
        got = (parts or {}).get(c)
        if not any(
            _stat_keeps(s, lo, hi)
            and (lo is None or lo != hi or _part_keeps(got, lo))
            and (bloom is None or bloom(c, lo, hi))
            for lo, hi in ([(v, v) for v in b] if isinstance(b, _In) else (b,))
        ):
            return False
    return True


def _prune(spark, tbl, cols: list[str], meta_of, where_norm: dict):
    """The rows of ``tbl`` (one per file) that :func:`_keep_file`
    cannot rule out. ``meta_of(*values)`` maps one row's ``cols`` to
    the keep test's ``(stats, parts, bloom)`` — the per-log
    translation. A driver loop for small tables (or ``spark=None``);
    past :data:`DISTRIBUTED_PRUNE_AT` rows one ``mapInPandas`` job
    runs the same test executor-side and only SURVIVOR indices return
    to the driver, so the metadata column never parses there."""
    import math

    import pyarrow as pa

    n = tbl.num_rows
    if spark is None or n < DISTRIBUTED_PRUNE_AT:
        rows = zip(*(tbl.column(c).to_pylist() for c in cols))
        keep = [
            i for i, row in enumerate(rows)
            if _keep_file(where_norm, *meta_of(*row))
        ]
        return tbl.take(pa.array(keep, pa.int64()))
    ship = tbl.select(cols).append_column(
        "__i", pa.array(range(n), pa.int64())
    )
    fdf = spark.createDataFrame(ship).repartition(
        max(8, min(1024, math.ceil(n / 20_000)))
    )

    def _task(batches):
        import pandas as _pd

        from django_datastream_spark import txnlog as TL

        for pdf in batches:
            keep = [
                i for i, *row in zip(pdf["__i"], *(pdf[c] for c in cols))
                if TL._keep_file(where_norm, *meta_of(*row))
            ]
            yield _pd.DataFrame({"__i": _pd.Series(keep, dtype="int64")})

    keep = sorted(r[0] for r in fdf.mapInPandas(_task, "__i long").collect())
    return tbl.take(pa.array(keep, pa.int64()))


def _residual(df: DataFrame, where_norm: dict) -> DataFrame:
    """Re-apply a normalized ``where`` as row filters: pruning is I/O
    only, so every log's read equals filtering a full read."""
    from pyspark.sql import functions as F

    for col, b in where_norm.items():
        if isinstance(b, _In):
            df = df.filter(F.col(col).isin(*b) if b else F.lit(False))
            continue
        lo, hi = b
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df


def _txn_file_meta(root: str, io, cache: dict, rel: str, st_j):
    """One txn fold row → keep-test inputs: its recorded stats, its
    hive directories, and its bloom sidecar (``cache``: one sidecar
    read per file per prune)."""
    stats = json.loads(st_j) if isinstance(st_j, str) and st_j else None
    return (
        (stats or {}).get("cols"),
        _hive_parts(rel),
        lambda c, lo, hi: _bloom_keeps(
            root, rel, c, lo, hi, cache, io=io
        ),
    )


def _prune_fold(spark, table_root: str, tbl, where_norm: dict):
    """The fold-table rows :func:`txn_read` must scan. A driver-only
    FileIO (HadoopFileIO) cannot ship into tasks: driver loop."""
    import functools

    io = _io(table_root)
    if not getattr(io, "executor_safe", True):
        spark = None
    meta = functools.partial(
        _txn_file_meta, _root(table_root), None if _is_local(io) else io, {}
    )
    return _prune(spark, tbl, ["rel", "stats"], meta, where_norm)


def prune_files(
    table_root: str,
    where: dict,
    version: int | None = None,
) -> tuple[int, list[str], list[str]]:
    """(version, kept files, pruned files) for a conjunction of range
    predicates ``{col: (lo, hi)}`` (either bound may be None for a
    one-sided range; a bare scalar means equality; a list/set means
    IN — pruned per value through stats and bloom). Kept ⊇ every
    file that can hold a matching row."""
    v, tbl = _fold_arrow(table_root, version)
    kept = set(
        _prune_fold(None, table_root, tbl, _norm_where(where))
        .column("rel").to_pylist()
    )
    rels = sorted(tbl.column("rel").to_pylist())
    return (
        v, [f for f in rels if f in kept], [f for f in rels if f not in kept]
    )


def _plan_compaction(
    files: list, size_of, target_file_bytes: int, zorder_by=None,
    has_dv=lambda f: False,
):
    """OPTIMIZE candidates, shared by every log: files under
    ``target_file_bytes`` plus every deletion-vector carrier (a
    rewrite materializes the deletion); with ``zorder_by``, every
    file (re-clustering rewrites the layout). ``(candidates, their
    bytes)``, or None when the run is skipped: fewer than two
    candidates and none carrying a deletion vector."""
    sizes = {}
    for f in files:
        try:
            sizes[f] = size_of(f)
        except OSError:
            sizes[f] = target_file_bytes  # vanished/odd: not a candidate
    cand = [
        f for f in files
        if zorder_by or sizes[f] < target_file_bytes or has_dv(f)
    ]
    if len(cand) < 2 and not any(has_dv(f) for f in cand):
        return None
    return cand, sum(sizes[f] for f in cand)


def _compaction_layout(
    df: DataFrame, part_cols: list[str], zorder_by, total_bytes: int,
    target_file_bytes: int, n_files: int,
) -> DataFrame:
    """OPTIMIZE's rewrite layout, shared by every log: ``ceil(bytes /
    target)`` outputs range-partitioned on (partition cols, z-key) so
    each task covers a contiguous slice of one partition's key space,
    sorted within tasks (tight row-group stats) — or coalesced when
    there are no keys."""
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil
    keys: list = list(part_cols)
    if zorder_by:
        from .layout import zorder_key

        joined, z = zorder_key(df, zorder_by)
        df = joined.withColumn("_z", z).select(*df.columns, "_z")
        keys.append("_z")
    if not keys:
        return df.coalesce(min(n_out, n_files))
    out = df.repartitionByRange(n_out, *keys).sortWithinPartitions(*keys)
    return out.drop("_z") if zorder_by else out


# ------------------------------------------------------------------ #
# Bloom-filter point-lookup index — Delta's bloom filter index on    #
# the plain-parquet log.  Min/max stats prune RANGES; they are       #
# useless for equality on a high-cardinality column whose values     #
# interleave across files (a UUID key spans [first, last] in every   #
# file).  A per-file bloom filter answers "could value v be in this  #
# file?" with no false negatives, so a point lookup at 100 TB scans  #
# the handful of true-positive files instead of all of them.         #
# ------------------------------------------------------------------ #

_BLOOM_DIR = "_bloom"


def _bloom_sidecar(rel: str) -> str:
    """Root-relative sidecar path for a data file's bloom filters —
    path-mirrored (``_bloom/<rel>.json``) so a sidecar's validity is
    exactly "my data file still exists": data files are immutable
    once committed (rewrites make NEW files), so no log entry is
    needed and nothing can go stale."""
    return os.path.join(_BLOOM_DIR, rel + ".json")


def _bloom_key(v) -> str | None:
    """Canonical hash key for a value; None for NULL (equality with
    NULL is never true — not a bloom question).  Build and probe both
    funnel through here so representations can't drift; timestamps
    normalize to naive UTC, integral floats fold onto ints (a probe
    for 5 must hit a DOUBLE column's 5.0)."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "ts:" + v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, float):
        return "i:" + str(int(v)) if v.is_integer() else "f:" + repr(v)
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return "s:" + str(v)


def _bloom_positions(key: str, m: int, k: int) -> list[int]:
    """k bit positions via double hashing off one md5 digest
    (Kirsch–Mitzenmacher h1 + i·h2 — same FP math as k independent
    hashes at one digest per key; md5 for speed + determinism, not
    security)."""
    import hashlib

    d = hashlib.md5(key.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_load(root: str, rel: str, cache: dict, io=None):
    """Parsed sidecar for ``rel`` (bitsets base64-decoded once), or
    None.  ``cache`` is per-prune-call: one stat+read per file.
    ``io`` routes the read through the storage seam (non-POSIX
    roots); executor tasks pass their captured instance."""
    if rel in cache:
        return cache[rel]
    import base64

    side = None
    try:
        if io is not None:
            raw = json.loads(io.read_text(
                os.path.join(root, _bloom_sidecar(rel))
            ))
        else:
            with open(os.path.join(root, _bloom_sidecar(rel))) as f:
                raw = json.load(f)
        side = {
            c: {
                "m": e["m"],
                "k": e["k"],
                "bits": base64.b64decode(e["bits"]),
            }
            for c, e in (raw.get("cols") or {}).items()
        }
    except (OSError, ValueError, KeyError):
        side = None  # absent/corrupt sidecar = no statement: keep
    cache[rel] = side
    return side


def _bloom_keeps(
    root: str, rel: str, col: str, lo, hi, cache: dict, io=None
) -> bool:
    """False only when the file's bloom filter PROVES ``col = lo``
    matches no row.  Only equality bounds consult the filter; absent
    sidecar/column entries keep the file."""
    if lo is None or hi is None or lo != hi:
        return True
    side = _bloom_load(root, rel, cache, io=io)
    ent = side.get(col) if side else None
    if ent is None:
        return True
    key = _bloom_key(lo)
    if key is None:
        return True
    bits = ent["bits"]
    for p in _bloom_positions(key, ent["m"], ent["k"]):
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def txn_bloom_build(
    spark: SparkSession,
    table_root: str,
    cols: list[str],
    bits_per_row: int = 10,
    num_hashes: int = 7,
) -> dict:
    """Build per-file bloom filters over ``cols`` for point-lookup
    data skipping (Delta's ``CREATE BLOOMFILTER INDEX``).

    One distributed job, ONE TASK PER DATA FILE (the deletion-vector
    write pattern): each task reads only the indexed columns of its
    file via pyarrow, hashes every non-null value into a local bitset
    (m = next power of two ≥ rows·bits_per_row, k = ``num_hashes`` —
    ~0.8% FP at the 10/7 defaults), and writes the sidecar from the
    executor (tmp + atomic rename).  Only (file, rows) pairs reach
    the driver.  ~1.25 MB sidecar per 1M-row file at defaults.

    The build is incremental and idempotent: files that already have
    a sidecar covering ``cols`` are skipped, so re-running after an
    append/optimize indexes only the new files.  Dead (deletion-
    vectored) rows stay in the filter — that can only add false
    positives, never wrong prunes.  Hive partition columns are not in
    the file bytes and are skipped (partition pruning already covers
    them exactly).  Readers need nothing special: ``txn_read`` /
    ``prune_files`` consult sidecars automatically and treat a
    missing one as "keep" — so lookups are always correct, merely
    less pruned, while an index build is behind.  ``txn_vacuum``
    sweeps sidecars whose data file is gone."""
    if not cols:
        raise ValueError("txn_bloom_build: cols must be non-empty")
    init_table(table_root)
    root = _root(table_root)
    bio = _io(table_root)
    bio = None if _is_local(bio) else bio
    _, m, _dv = _fold(table_root)
    cache: dict = {}
    todo = []
    for rel in sorted(m):
        side = _bloom_load(root, rel, cache, io=bio)
        pcols = set(_partition_cols_of([rel]))
        want = [c for c in cols if c not in pcols]
        if want and not (side and all(c in side for c in want)):
            todo.append(rel)
    if not todo:
        return {"indexed_files": 0, "skipped_files": len(m)}
    done = _bloom_build_rels(
        spark, table_root, todo, cols, bits_per_row, num_hashes
    )
    return {
        "indexed_files": len(done),
        "skipped_files": len(m) - len(todo),
        "indexed_rows": int(sum(n for _, n in done)),
    }


def _bloom_build_rels(
    spark: SparkSession,
    table_root: str,
    rels: list[str],
    cols: list[str],
    bits_per_row: int = 10,
    num_hashes: int = 7,
) -> list[tuple[str, int]]:
    """The distributed sidecar build over an EXPLICIT file list — one
    task per file; shared by :func:`txn_bloom_build` (committed files)
    and :func:`stage_files` (write-time indexing of staged files that
    are not yet committed, so the log fold can't list them).  Returns
    ``(rel, rows)`` per sidecar written."""
    root = _root(table_root)
    io = _io(table_root)
    io = None if _is_local(io) else io  # captured by the build tasks
    bpr, k = int(bits_per_row), int(num_hashes)

    def _build(batches):
        import base64
        import hashlib

        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for rel in pdf["rel"]:
                pcols = set(_partition_cols_of([rel]))
                want = [c for c in cols if c not in pcols]
                try:
                    pf = pq.ParquetFile(
                        io.parquet_source(os.path.join(root, rel))
                        if io is not None
                        else os.path.join(root, rel)
                    )
                except (OSError, ValueError):
                    # a racing optimize+vacuum unlinked the file
                    # between snapshot and task: it is superseded, its
                    # sidecar irrelevant — skip, never fail the build
                    continue
                have = [
                    c for c in want if c in pf.schema_arrow.names
                ]
                rows = pf.metadata.num_rows
                nbits = max(1024, 1 << max(0, rows * bpr - 1).bit_length())
                sets = {
                    c: np.zeros(nbits >> 3, dtype=np.uint8) for c in want
                }
                for batch in pf.iter_batches(
                    columns=have, batch_size=65536
                ):
                    for c in have:
                        arr = sets[c]
                        for v in batch.column(c).to_pylist():
                            key = _bloom_key(v)
                            if key is None:
                                continue
                            d = hashlib.md5(key.encode()).digest()
                            h1 = int.from_bytes(d[:8], "big")
                            h2 = int.from_bytes(d[8:], "big") | 1
                            for i in range(k):
                                p = (h1 + i * h2) % nbits
                                arr[p >> 3] |= 1 << (p & 7)
                # absent columns (pre-evolution files) index as all-
                # zero bitsets: every value of that column in this
                # file IS NULL, so "no equality ever matches" is a
                # true statement, not a false negative
                payload = {
                    "rows": rows,
                    "cols": {
                        c: {
                            "m": nbits,
                            "k": k,
                            "bits": base64.b64encode(
                                sets[c].tobytes()
                            ).decode(),
                        }
                        for c in want
                    },
                }
                dst = os.path.join(root, _bloom_sidecar(rel))
                if io is not None:
                    io.put_atomic(dst, json.dumps(payload).encode())
                else:
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    tmp = dst + f".tmp-{uuid.uuid4().hex[:8]}"
                    with open(tmp, "w") as f:
                        json.dump(payload, f)
                    os.replace(tmp, dst)
                out.append((rel, rows))
            yield pd.DataFrame(out, columns=["rel", "rows"])

    if io is not None and not getattr(io, "executor_safe", True):
        # driver-only FileIO (HadoopFileIO): the build loops driver-
        # side, bounded by the staged/backfill file count
        import pandas as _pd

        done_pdf = _pd.concat(
            list(_build([_pd.DataFrame({"rel": rels})])),
            ignore_index=True,
        )
        return [
            (r["rel"], int(r["rows"])) for _i, r in done_pdf.iterrows()
        ]
    from .storage import local_rows_df

    fdf = local_rows_df(
        spark, [(r,) for r in rels], "rel string"
    ).repartition(min(len(rels), 4096))  # cap task count; tasks loop
    done = fdf.mapInPandas(_build, "rel string, rows long").collect()
    return [(r["rel"], int(r["rows"])) for r in done]


def table_bloom_cols(
    table_root: str, version: int | None = None
) -> list[str]:
    """The table's WRITE-TIME bloom-index columns at ``version``
    (Delta's per-column bloom filter table property): every staged
    write builds sidecars for these columns as part of the write, so
    the index never lags the table.  Folded checkpoint-bounded like
    constraints; latest setting wins; empty list = disabled."""
    log = _log_dir(table_root)
    head = latest_version(table_root)
    v = head if version is None else version
    cps = _cp_list(log)
    usable = [c for c in cps if c <= v]
    floor = max(usable) if usable else 0
    out: list[str] = []
    if floor:
        out = list(_read_checkpoint(log, floor).get("bloom_cols") or [])
    for i in range(floor + 1, v + 1):
        bc = _read_commit(table_root, i).get("bloom_cols")
        if bc is not None:
            out = list(bc)
    return out


def txn_set_bloom_cols(
    table_root: str, cols: list[str], writer: str = ""
) -> int:
    """Set (or clear, with ``[]``) the write-time bloom-index columns
    as one metadata commit.  Existing files are NOT back-indexed —
    run :func:`txn_bloom_build` once for the backfill; from this
    commit on, every writer indexes its own staged files."""
    init_table(table_root)
    return commit(
        table_root,
        [],
        [],
        "set_bloom_cols",
        [],
        base_version=latest_version(table_root),
        writer=writer or "set_bloom_cols",
        stats={},
        data_change=False,
        bloom_cols=list(cols),
    )


def _raw_commit(table_root: str, v: int, payload: dict) -> None:
    """The atomic commit point, through the LogStore seam: the store's
    ``put_if_absent`` IS the CAS (FileExistsError = lost race, handled
    by :func:`commit`'s rebase loop)."""
    log = _log_dir(table_root)
    store = _store(table_root)
    store.put_if_absent(
        os.path.join(log, _vname(v)),
        json.dumps(payload).encode("utf-8"),
    )
    if v % CHECKPOINT_EVERY == 0:
        # checkpoints are derived + idempotent (any writer may (re)write
        # one; content is a pure fold of commits <= v) and BEST-EFFORT:
        # the os.link above already landed the commit, so a checkpoint
        # IO failure must not surface as a commit failure — a caller
        # retrying an already-applied transaction would double-apply it.
        # A missing checkpoint only means longer folds until the next
        # multiple of CHECKPOINT_EVERY.
        try:
            _, tbl = _fold_arrow(table_root, v)
            header = {
                "version": v,
                # writer-app watermarks must survive the fold
                # horizon or a long-stopped stream could replay
                # a pre-checkpoint batch
                "app_txns": app_txn_watermarks(table_root, v),
                # the schema must survive the fold horizon too
                "schema": table_schema_json(table_root, v),
                "constraints": table_constraints(table_root, v),
                "bloom_cols": table_bloom_cols(table_root, v),
            }
            if tbl.num_rows >= PARQUET_CHECKPOINT_AT:
                # PARQUET checkpoint: one row per live file (rel +
                # stats/dv JSON) built vectorized from the previous
                # checkpoint + tail, never an O(n_files) Python loop.
                # `.pq` (not `.parquet`) so vacuum's data-file walk
                # can never mistake it for an orphaned data file.
                # Write order is parquet THEN header (which references
                # it): a crash between leaves an unreferenced sidecar
                # next to a still-valid older checkpoint — readers are
                # unaffected, and checkpoint content is a pure fold,
                # so any writer regenerates it at the next multiple.
                import pyarrow as pa
                import pyarrow.parquet as pq

                fp = f"checkpoint-v{v:010d}.files.pq"
                buf = pa.BufferOutputStream()
                pq.write_table(tbl, buf)
                store.put_atomic(
                    os.path.join(log, fp), buf.getvalue().to_pybytes()
                )
                header["files_parquet"] = fp
            else:
                # legacy inline-JSON checkpoint (small tables): stats
                # and deletion vectors ride through checkpoints or
                # pruning/deletes would silently stop applying at the
                # first fold
                files: dict[str, dict | None] = {}
                for rel, st_j in zip(
                    tbl.column("rel").to_pylist(),
                    tbl.column("stats").to_pylist(),
                ):
                    files[rel] = json.loads(st_j) if st_j else None
                header["files"] = sorted(files)
                header["stats"] = {k: s for k, s in files.items() if s}
                header["dv"] = _dv_from_arrow(tbl)
            store.put_atomic(
                os.path.join(log, f"checkpoint-v{v:010d}.json"),
                json.dumps(header).encode("utf-8"),
            )
        except OSError:
            pass


def commit(
    table_root: str,
    adds: list[str],
    removes: list[str],
    op: str,
    partitions: list[str],
    base_version: int,
    writer: str = "",
    max_retries: int = 50,
    stats: dict[str, dict] | None = None,
    data_change: bool = True,
    deletes: dict[str, dict | list] | None = None,
    app_txn: tuple[str, int] | None = None,
    schema_json: str | None = None,
    constraint: dict | None = None,
    bloom_cols: list[str] | None = None,
    restat: dict[str, dict] | None = None,
) -> int:
    """Commit a transaction computed against ``base_version``. Returns
    the committed version. Appends always land (auto-rebase); rewrites
    raise :class:`CommitConflictError` per the module conflict rules.

    Per-file column stats for ``adds`` are read from parquet footers
    and recorded in the commit entry (data skipping); pass ``stats``
    to override, or ``{}`` to skip collection.

    ``data_change=False`` marks a LAYOUT-ONLY commit (compaction /
    re-clustering: same rows, new bytes) — incremental consumers
    (:func:`txn_changes`, the ``txn_table`` streaming source) skip
    such commits, exactly Delta's ``dataChange=false`` contract.

    ``deletes`` records DELETION VECTORS: file → ``{"dv": sidecar,
    "n": count}`` for rows removed WITHOUT rewriting the file.
    For conflict purposes a DV'd file counts as touched: two row-level
    ops on one file serialize (one retries against the new snapshot),
    and a rewrite racing a DV on the same file conflicts in both
    directions — otherwise the rewrite would resurrect the deleted
    rows when the fold drops the vector with the file.

    ``app_txn=(app_id, batch_id)`` stamps the commit with a writer-app
    transaction id (Delta's SetTransaction): if a commit with the same
    app and batch >= ours lands first — a racing retry of the same
    micro-batch — the rebase raises ``CommitConflictError`` instead of
    double-applying, closing the check-then-commit window that a
    pre-commit watermark lookup alone cannot."""
    if stats is None:
        stats = collect_file_stats(table_root, adds)
    removes_set = set(removes)
    touched_files = removes_set | set(deletes or {})
    # a commit's partition footprint is derived from its file paths
    # (partition dirs are encoded in them), plus any partitions the
    # caller declares it READ — so an append into a partition a merge
    # anti-joined against is detected without trusting callers to
    # enumerate their write set
    parts_set = set(partitions) | {
        os.path.dirname(f) or "."
        for f in list(adds) + removes + sorted(deletes or {})
    }
    attempt_base = base_version
    for _ in range(max_retries):
        head = latest_version(table_root)
        # examine everything that landed since OUR READ, not since the
        # last failed attempt — rebase must stay sound transitively
        for v in range(base_version + 1, head + 1):
            c = _read_commit(table_root, v)
            c_at = c.get("app_txn")
            if (
                app_txn is not None
                and c_at
                and c_at["app"] == app_txn[0]
                and c_at["batch"] >= app_txn[1]
            ):
                raise CommitConflictError(
                    f"v{v} already committed batch {c_at['batch']} for "
                    f"app {app_txn[0]} (ours: {app_txn[1]}) — duplicate "
                    "micro-batch delivery"
                )
            c_touched = set(c["removes"]) | set(c.get("deletes") or {})
            if touched_files & c_touched:
                raise CommitConflictError(
                    f"v{v} already removed or row-deleted files this "
                    f"transaction touches (op={c['op']})"
                )
            # read-modify-write ops conflict on partition overlap even
            # when they remove nothing: an INSERT-only merge decided
            # its inserts by reading those partitions, and a rival
            # commit there (e.g. the same fresh key inserted twice)
            # invalidates that read. Blind appends (op != merge) skip
            # this and always rebase. OPTIMIZE also skips it: its only
            # read dependency is the exact files it rewrites (rows
            # in == rows out), so it commutes with appends into the
            # same partition — the removes-overlap check above still
            # catches a rival rewriting the same files.
            if (
                op == "merge" or (removes_set and op != "optimize")
            ) and parts_set & set(c["partitions"]):
                raise CommitConflictError(
                    f"v{v} ({c['op']}) touched partitions this "
                    f"{op} read; recompute against the new snapshot"
                )
        target = head + 1
        payload = {
            "version": target,
            "op": op,
            "adds": sorted(adds),
            "removes": sorted(removes),
            "partitions": sorted(parts_set),  # derived dirs + declared

            "writer": writer or uuid.uuid4().hex[:8],
            "base_version": attempt_base,
            "stats": stats,
            "data_change": data_change,
            "deletes": deletes or {},
            "app_txn": (
                {"app": app_txn[0], "batch": app_txn[1]} if app_txn else None
            ),
            # recorded only when this commit CHANGES the table schema
            # (first data, evolution, set_schema); table_schema() finds
            # the newest one — commits without it inherit
            "schema": schema_json,
            # add/drop of one CHECK constraint (metadata commits only)
            "constraint": constraint,
        }
        if bloom_cols is not None:
            # write-time bloom-index property (latest setting wins)
            payload["bloom_cols"] = bloom_cols
        if restat:
            # after-the-fact stats for still-live files (ANALYZE)
            payload["restat"] = restat
        try:
            _raw_commit(table_root, target, payload)
            return target
        except FileExistsError:
            continue  # lost the CAS race — re-examine and retry
    raise CommitConflictError(f"gave up after {max_retries} CAS attempts")


def stage_files(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    partition_cols: list[str],
    tag: str,
) -> list[str]:
    """Write ``df`` as parquet files of the table WITHOUT the racy
    before/after directory diff: write to a per-transaction staging
    dir, then hard-link each data file into the table tree under a
    unique ``txn-<tag>`` name. Returns the exact root-relative paths
    this transaction added — unaffected by concurrent writers."""
    root = _root(table_root)
    io = _io(table_root)
    stage = os.path.join(root, f".staging-{tag}")
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(io.spark_path(stage))
    out: list[str] = []
    for rel0 in io.walk_files(stage):
        if not rel0.endswith(".parquet"):
            continue
        d, fn = os.path.split(rel0)
        rel = os.path.join(d, f"txn-{tag}-{fn}")
        io.move_file(os.path.join(stage, rel0), os.path.join(root, rel))
        out.append(rel)
    io.delete_prefix(stage)
    # write-time bloom indexing: if the table declares bloom columns,
    # every writer indexes its own staged files before committing —
    # the index never lags the table.  A conflicted commit leaves the
    # sidecars as orphans beside the staged files; vacuum sweeps both.
    bc = table_bloom_cols(table_root) if is_txn_table(table_root) else []
    if bc and out:
        _bloom_build_rels(spark, table_root, out, bc)
    return out


def _row_identity(df: DataFrame, prefix: str) -> DataFrame:
    """``df`` plus the row identity every deletion read and writer
    keys on — txn vectors, Delta DVs, Iceberg position deletes:
    ``__file``, the file's DECODED ``_metadata.file_path`` with
    ``prefix`` (a decoded root URI plus separator; ``""`` keeps the
    full URI) sliced off, and ``__pos``, its ``_metadata.row_index``.

    ``_metadata.file_path`` is percent-encoded, while vectors and
    commit delete-maps key on raw paths (file or hive-dir names may
    carry spaces or '%'). Decode the FULL path, then slice by the
    decoded prefix: encoded-slice arithmetic mis-aligns when the root
    itself holds an encodable character. '+' is literal in a file
    URI; protect it from url_decode's form semantics."""
    from pyspark.sql import functions as F

    return df.select(
        "*",
        F.expr(
            "substring(url_decode(replace(_metadata.file_path, "
            f"'+', '%2B')), {len(prefix) + 1})"
        ).alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    )


def _drop_deleted(df: DataFrame, deleted: DataFrame) -> DataFrame:
    """The rows of ``df`` (carrying :func:`_row_identity`) whose
    ``(__file, __pos)`` is not in ``deleted``. Positions stay
    executor-side end to end: AQE broadcasts the deleted side when it
    fits, without forcing a broadcast a 100 TB vector set would
    overflow."""
    return df.join(deleted, ["__file", "__pos"], "left_anti")


def _dv_frame(spark, table_root: str, rels, dv) -> DataFrame | None:
    """The deleted ``(__file, __pos)`` rows of ``rels`` under txn
    deletion-vector entries ``dv`` (file → entries), read from their
    ``_dv`` sidecars; None when no file of ``rels`` carries one."""
    from pyspark.sql import functions as F

    sidecars = sorted({e["dv"] for f in rels for e in (dv or {}).get(f, [])})
    if not sidecars:
        return None
    sroot = _io(table_root).spark_path(_root(table_root))
    return spark.read.parquet(
        *(os.path.join(sroot, s) for s in sidecars)
    ).select(F.col("file").alias("__file"), F.col("pos").alias("__pos"))


def _read_files(
    spark: SparkSession,
    table_root: str,
    rels: list[str],
    schema=None,
    merge_schema: bool = False,
    where: dict[str, tuple] | None = None,
    deleted: DataFrame | None = None,
    keep_meta: bool = False,
    hive: bool = True,
) -> DataFrame:
    """The one scan of txn and Delta tables: read exactly ``rels``
    (raw root-relative paths), subtract the ``deleted`` positions
    frame (txn: :func:`_dv_frame`; Delta: its decoded descriptors) by
    :func:`_drop_deleted` over the whole scan, then apply residual
    ``where`` ranges. ``keep_meta=True`` keeps the ``__file``/``__pos``
    identity columns (what txn_delete needs to record new vectors).
    With neither, the plan is the bare parquet relation. ``hive``:
    ``k=v`` directories under the root become columns (``basePath``);
    False for a Delta layout whose partition values live only in its
    log (Spark rejects mixed ``k=v`` and plain directories under one
    ``basePath``)."""
    root = _root(table_root)
    io = _io(table_root)
    sroot = io.spark_path(root)
    r = spark.read.option("basePath", sroot) if hive else spark.read
    if merge_schema:
        r = r.option("mergeSchema", "true")
    if schema is not None:
        r = r.schema(schema)
    df = r.parquet(*(os.path.join(sroot, f) for f in rels))
    if deleted is not None or keep_meta:
        df = _row_identity(df, io.file_uri(root) + os.sep)
    if deleted is not None:
        df = _drop_deleted(df, deleted)
        if not keep_meta:
            df = df.drop("__file", "__pos")
    return _residual(df, _norm_where(where)) if where else df


def txn_read(
    spark: SparkSession,
    table_root: str,
    schema=None,
    version: int | None = None,
    where: dict[str, tuple] | None = None,
    merge_schema: bool = False,
    keep_meta: bool = False,
) -> DataFrame:
    """Snapshot-isolated read: exactly the committed file list at
    ``version`` (default latest), minus deletion-vector rows —
    in-flight writers invisible. ``keep_meta=True`` adds ``__file``
    (root-relative source file) and ``__pos`` (row position) columns —
    the row identity MERGE and DELETE need; ``input_file_name()``
    cannot be used instead once a deletion-vector anti-join puts a
    second file source in the plan.

    ``where={col: (lo, hi)}`` enables data skipping: files whose
    recorded stats prove no row satisfies every range are not handed
    to Spark at all, and the ranges are re-applied as row filters so
    the result is identical to filtering a full read (pruning is
    purely an I/O optimization). A list/set value is an IN-list
    (multi-key point lookup): files prune per value through stats
    and the bloom index, and the residual filter is ``isin``. ``merge_schema=True`` reconciles
    files written under evolved (column-added) schemas; when the log
    RECORDS a schema (schema-tracked tables) and the caller passes
    none, the read is directed through the schema as of ``version`` —
    pre-evolution files null-fill added columns with no mergeSchema
    footer sweep, and time travel sees the schema of its era."""
    v, tbl = _fold_arrow(table_root, version)
    if schema is None:
        schema = table_schema(table_root, v)
    if where:
        where = _norm_where(where)
        tbl = _prune_fold(spark, table_root, tbl, where)
    files = sorted(tbl.column("rel").to_pylist())
    if not files:
        if schema is None:
            raise ValueError(
                f"{table_root}: empty at v{v}; pass schema for an empty frame"
            )
        from .storage import local_rows_df

        return local_rows_df(spark, [], schema)
    return _read_files(
        spark,
        table_root,
        files,
        schema=schema,
        merge_schema=merge_schema,
        where=where,
        deleted=_dv_frame(spark, table_root, files, _dv_from_arrow(tbl)),
        keep_meta=keep_meta,
    )


def txn_delete(
    spark: SparkSession,
    table_root: str,
    condition,
    writer: str = "",
) -> dict:
    """DELETE FROM ... WHERE ``condition`` via DELETION VECTORS: no
    data file is rewritten — matching rows' (file, position) pairs are
    written executor-side to a sidecar parquet under ``_dv/`` and the
    commit records which files the vector touches. Readers anti-join
    the vectors; ``txn_optimize`` later materializes them (rewrites
    the files without the dead rows, dropping the vectors).

    This is the write-amplification fix for row-level ops at 100 TB:
    deleting 0.1% of rows costs one scan + a vector write, not a
    rewrite of every touched 128 MB file. Positions never reach the
    driver — only per-file counts do (bounded by file count).

    Conflicts: a DV'd file counts as touched, so two row-level ops on
    one file serialize, and a racing rewrite of that file conflicts
    in both directions (else the rewrite would resurrect deleted rows
    when the fold drops the vector with the file). Appends commute:
    the delete applies to the snapshot it read (WriteSerializable).

    ``condition`` is a Column or SQL string over the table's columns.
    Returns ``{"version", "deleted_rows", "files_touched"}``."""
    from pyspark.sql import functions as F

    init_table(table_root)
    root = _root(table_root)
    io = _io(table_root)
    base_ver, m, dv = _fold(table_root)
    files = sorted(m)
    if not files:
        return {"version": base_ver, "deleted_rows": 0, "files_touched": 0}
    df = _read_files(
        spark,
        table_root,
        files,
        schema=table_schema(table_root),
        deleted=_dv_frame(spark, table_root, files, dv),
        keep_meta=True,
    )
    hits = df.filter(condition).select("__file", "__pos")
    tag = uuid.uuid4().hex[:12]
    dv_rel = os.path.join("_dv", tag)
    dv_dir = io.spark_path(os.path.join(root, dv_rel))
    hits.select(
        F.col("__file").alias("file"), F.col("__pos").alias("pos")
    ).write.parquet(dv_dir)
    per = {
        r["file"]: r["n"]
        for r in spark.read.parquet(dv_dir)
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # per-FILE counts: bounded by file count, not rows
    }
    if not per:
        io.delete_prefix(os.path.join(root, dv_rel))
        return {"version": base_ver, "deleted_rows": 0, "files_touched": 0}
    deletes = {f: {"dv": dv_rel, "n": int(n)} for f, n in per.items()}
    ver = commit(
        table_root,
        [],
        [],
        "delete",
        [],
        base_version=base_ver,
        writer=writer or "delete",
        deletes=deletes,
        stats={},
    )
    return {
        "version": ver,
        "deleted_rows": int(sum(per.values())),
        "files_touched": len(per),
    }


def txn_append(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    partition_cols: list[str],
    writer: str = "",
    merge_schema: bool = False,
) -> int:
    """Blind append: stage files, commit (never conflicts, auto-rebases
    over any concurrent commit). Returns the committed version.

    Schema ENFORCEMENT applies (see :func:`_check_schema`): appended
    columns must match the committed schema by type; a column subset
    is fine (readers null-fill); NEW columns require
    ``merge_schema=True``, which records the widened schema with this
    commit (Delta's mergeSchema evolution)."""
    init_table(table_root)
    evolved = _check_schema(table_root, df.schema, merge_schema)
    _check_partition_cols(table_root, partition_cols)
    tag = uuid.uuid4().hex[:12]
    adds = stage_files(spark, df, table_root, partition_cols, tag)
    _enforce_constraints(spark, table_root, adds)
    base = latest_version(table_root)
    return commit(
        table_root,
        adds,
        [],
        "append",
        [],
        base_version=base,
        writer=writer,
        stats=collect_file_stats(table_root, adds, spark=spark),
        schema_json=evolved,
    )


def txn_append_split(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    split_col,
    keys: list,
    writer: str = "",
) -> list[int]:
    """Append ``df`` as ``len(keys)`` successive commits — rows routed
    by ``split_col`` — with ONE scan+write job instead of one per
    commit (guide §2: scan once, not N times; the fixture tables the
    declared txn queries build pay N source scans otherwise).

    Commit ``i`` holds exactly the rows where ``split_col == keys[i]``
    and is byte-equivalent to ``txn_append(df.filter(...))``: the
    router column is a write-path partition column only and never
    lands in the data files; stats collection, constraint enforcement,
    bloom indexing and the commit protocol are txn_append's, per
    slice. Returns the committed versions in ``keys`` order."""
    init_table(table_root)
    evolved = _check_schema(table_root, df.schema, False)
    _check_partition_cols(table_root, [])
    root = _root(table_root)
    io = _io(table_root)
    stage = os.path.join(root, f".staging-{uuid.uuid4().hex[:12]}")
    (
        df.withColumn("__txn_split", split_col)
        .write.mode("overwrite")
        .partitionBy("__txn_split")
        .parquet(io.spark_path(stage))
    )
    staged = io.walk_files(stage)
    bc = table_bloom_cols(table_root) if is_txn_table(table_root) else []
    versions: list[int] = []
    for key in keys:
        seg = f"__txn_split={key}"
        tag = uuid.uuid4().hex[:12]
        adds: list[str] = []
        for rel0 in staged:
            parts = rel0.split(os.sep)
            if not rel0.endswith(".parquet") or seg not in parts:
                continue
            rel = f"txn-{tag}-{parts[-1]}"
            io.move_file(os.path.join(stage, rel0), os.path.join(root, rel))
            adds.append(rel)
        if not adds:
            raise ValueError(f"txn_append_split: no rows routed to {key!r}")
        if bc:
            _bloom_build_rels(spark, table_root, adds, bc)
        _enforce_constraints(spark, table_root, adds)
        versions.append(
            commit(
                table_root,
                adds,
                [],
                "append",
                [],
                base_version=latest_version(table_root),
                writer=writer,
                stats=collect_file_stats(table_root, adds, spark=spark),
                schema_json=evolved,
            )
        )
    io.delete_prefix(stage)
    return versions


def txn_overwrite_where(
    spark: SparkSession,
    table_root: str,
    df: DataFrame,
    where: dict[str, object],
    writer: str = "",
) -> dict:
    """Delta's ``replaceWhere``: atomically replace the contents of the
    partitions selected by ``where`` ({partition_col: value}) with
    ``df`` — ONE commit removes every file of the matched partitions
    and adds the staged replacement, so readers see either the old
    partition or the new one, never a mix and never an empty window.
    This is the idempotent-backfill primitive at 100 TB: recompute a
    day, swap it in, time travel keeps the old day until vacuum.

    ``df`` must fall entirely inside the target partitions (checked
    with one aggregate, Delta's constraint) and ``where`` keys must be
    committed partition columns.  Conflicts follow the generic rules:
    a rival commit touching the same partitions (append, merge,
    rewrite) raises ``CommitConflictError``; disjoint partitions
    commute.  Returns ``{"version", "replaced_files", "new_files"}``."""
    import functools

    from pyspark.sql import functions as F

    init_table(table_root)
    _, committed = snapshot(table_root)
    layout = _partition_cols_of(sorted(committed)) if committed else None
    if layout is not None:
        bad = [c for c in where if c not in layout]
        if bad:
            raise ValueError(
                f"where keys {bad} are not partition columns {layout}"
            )
    else:
        layout = list(where)  # first write establishes the layout
    evolved = _check_schema(table_root, df.schema, False)
    # every replacement row must belong to the partitions it replaces
    outside = df.filter(
        ~functools.reduce(
            lambda a, b: a & b,
            [F.col(c) == F.lit(v) for c, v in where.items()],
        )
    )
    if outside.take(1):
        raise ValueError(
            "replacement rows fall outside the overwritten partitions"
        )
    segs = {f"{c}={v}" for c, v in where.items()}
    removes = sorted(
        f
        for f in committed
        if segs <= set(f.split(os.sep)[:-1])
    )
    tag = uuid.uuid4().hex[:12]
    adds = stage_files(spark, df, table_root, layout, tag)
    _enforce_constraints(spark, table_root, adds)
    ver = commit(
        table_root,
        adds,
        removes,
        "overwrite",
        [],
        base_version=latest_version(table_root),
        writer=writer or "overwrite",
        stats=collect_file_stats(table_root, adds, spark=spark),
        schema_json=evolved,
    )
    return {
        "version": ver,
        "replaced_files": len(removes),
        "new_files": len(adds),
    }


def txn_update(
    spark: SparkSession,
    table_root: str,
    condition,
    set_exprs: dict,
    writer: str = "",
) -> dict:
    """UPDATE ... SET via deletion vectors: matching rows are re-written
    once with ``set_exprs`` applied ({col: Column-or-SQL-string}) and
    appended as new files, while their OLD positions are vectored out of
    the original files — one commit, no full-file rewrite (the
    completion of the DML triad beside :func:`txn_delete` and
    ``merge_into(txn=True)``).

    The commit carries data_change=True: incremental consumers see the
    updated rows as new adds (upsert semantics — file-level CDF cannot
    emit before-images, same contract as :func:`txn_changes`).
    Conflict rules are the delete rules: touched files serialize
    rewrites and rival vectors. Updating a partition column is legal —
    the row simply moves directories in its rewritten copy."""
    from pyspark.sql import functions as F

    init_table(table_root)
    root = _root(table_root)
    io = _io(table_root)
    base_ver, m, dv = _fold(table_root)
    files = sorted(m)
    if not files:
        return {"version": base_ver, "updated_rows": 0, "files_touched": 0}
    df = _read_files(
        spark,
        table_root,
        files,
        schema=table_schema(table_root),
        deleted=_dv_frame(spark, table_root, files, dv),
        keep_meta=True,
    )
    hits = df.filter(condition)
    upd = hits
    for c, e in set_exprs.items():
        expr = F.expr(e) if isinstance(e, str) else e
        # UPDATE cannot change a column's type: cast the set-expr back
        # to the table's dtype, or a literal like "-1.0" (DECIMAL in
        # SQL) would write files whose schema diverges from the table
        upd = upd.withColumn(c, expr.cast(df.schema[c].dataType))
    upd = upd.drop("__file", "__pos")
    part_cols = _partition_cols_of(files)
    tag = uuid.uuid4().hex[:12]
    adds = stage_files(spark, upd, table_root, part_cols, tag)
    _enforce_constraints(spark, table_root, adds)  # updated rows too
    dv_rel = os.path.join("_dv", tag)
    hits.select(
        F.col("__file").alias("file"), F.col("__pos").alias("pos")
    ).write.parquet(io.spark_path(os.path.join(root, dv_rel)))
    per = {
        r["file"]: r["n"]
        for r in spark.read.parquet(
            io.spark_path(os.path.join(root, dv_rel))
        )
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded by touched file count
    }
    if not per:
        io.delete_prefix(os.path.join(root, dv_rel))
        for a in adds:
            try:
                io.delete(os.path.join(root, a))
            except OSError:
                pass
        return {"version": base_ver, "updated_rows": 0, "files_touched": 0}
    deletes = {f: {"dv": dv_rel, "n": int(n)} for f, n in per.items()}
    ver = commit(
        table_root,
        adds,
        [],
        "update",
        [],
        base_version=base_ver,
        writer=writer or "update",
        stats=collect_file_stats(table_root, adds, spark=spark),
        deletes=deletes,
    )
    return {
        "version": ver,
        "updated_rows": int(sum(per.values())),
        "files_touched": len(per),
    }


def txn_append_batch(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    partition_cols: list[str],
    app_id: str,
    batch_id: int,
) -> int | None:
    """Idempotent append for EXACTLY-ONCE streaming sinks: commit
    ``df`` stamped with ``(app_id, batch_id)``; if that batch (or a
    later one) already committed for this app — a foreachBatch retry
    after a sink-side success but pre-checkpoint crash, the classic
    at-least-once window — skip and return None.

    The fast path is a watermark lookup; the race window between the
    lookup and the commit is closed by the commit itself (the rebase
    scan rejects a duplicate app/batch, see :func:`commit`), so two
    racing retries of one micro-batch cannot both land. Staged files
    of the loser become vacuum orphans."""
    init_table(table_root)
    if app_txn_watermarks(table_root).get(app_id, -1) >= batch_id:
        return None
    evolved = _check_schema(table_root, df.schema, merge_schema=False)
    _check_partition_cols(table_root, partition_cols)
    # base is pinned BEFORE staging — the commit's rebase scan then
    # covers every rival commit that lands while our write job runs,
    # which is exactly where a racing retry of the same batch hides
    base = latest_version(table_root)
    tag = uuid.uuid4().hex[:12]
    adds = stage_files(spark, df, table_root, partition_cols, tag)
    _enforce_constraints(spark, table_root, adds)
    try:
        return commit(
            table_root,
            adds,
            [],
            "append",
            [],
            base_version=base,
            writer=f"{app_id}#{batch_id}",
            stats=collect_file_stats(table_root, adds, spark=spark),
            app_txn=(app_id, batch_id),
            schema_json=evolved,
        )
    except CommitConflictError:
        # the rival retry landed first: drop our claim, not the data's
        # exactly-once guarantee (staged files await txn_vacuum)
        return None


def streaming_sink(table_root: str, partition_cols: list[str], app_id: str):
    """``foreachBatch`` adapter: ``writeStream.foreachBatch(
    streaming_sink(root, parts, app_id))`` gives a txn-committed,
    exactly-once table sink — Spark replays micro-batches at least
    once across restarts; the app-txn ledger makes the append land at
    most once, so the composition is exactly-once."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        txn_append_batch(
            batch_df.sparkSession,
            batch_df,
            table_root,
            partition_cols,
            app_id,
            batch_id,
        )

    return _sink


def streaming_merge_sink(
    table_root: str,
    key_cols: list[str],
    partition_cols: list[str],
    app_id: str,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    max_retries: int = 20,
):
    """``foreachBatch`` adapter for EXACTLY-ONCE streaming UPSERT —
    the CDC apply pattern: each micro-batch MERGEs into the txn table
    keyed by ``key_cols``, stamped with ``(app_id, batch_id)``.

    Idempotence is the app-txn ledger (same mechanism as
    :func:`streaming_sink`): a replayed batch is skipped at the
    watermark, and the lookup→commit race is closed by the commit's
    rebase scan. A GENUINE rival writer (different app) conflicting on
    the merge's read scope triggers a bounded re-run of the merge
    against the new snapshot — upsert semantics make the retry safe.

    Source batches must carry at most one row per key (the Delta
    multiple-source-rows-matched contract; collapse upstream with a
    window by sequence number first)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from .operators.merge import merge_into

        spark = batch_df.sparkSession
        for _ in range(max_retries):
            if app_txn_watermarks(table_root).get(app_id, -1) >= batch_id:
                return  # replayed batch already committed
            try:
                merge_into(
                    spark,
                    table_root,
                    batch_df,
                    key_cols,
                    partition_cols,
                    when_matched=when_matched,
                    when_not_matched=when_not_matched,
                    txn=True,
                    app_txn=(app_id, batch_id),
                )
                return
            except CommitConflictError:
                continue  # duplicate batch (caught at the watermark
                # next loop) or rival writer (re-run vs new snapshot)
        raise CommitConflictError(
            f"merge for batch {batch_id} gave up after {max_retries} re-runs"
        )

    return _sink


def txn_count(
    spark: SparkSession,
    table_root: str,
    where: dict[str, tuple] | None = None,
    version: int | None = None,
) -> int:
    """COUNT(*) answered from commit metadata where possible.

    Without a predicate: the sum of per-file row counts — zero data
    I/O (files lacking stats fall back to one footer read each).
    With ``where``: files PROVABLY fully inside every range (min/max
    within bounds, no nulls) contribute their row count from metadata;
    only boundary files — the ones a range edge cuts through — are
    scanned, with the predicate pushed down. At 100 TB a month-long
    window over daily files scans two boundary days instead of the
    window."""
    import pyarrow.parquet as pq

    v, m, dv = _fold(table_root, version)
    root = _root(table_root)
    io = _io(table_root)

    def _rows_of(f: str, s: dict | None) -> int:
        live = sum(e["n"] for e in dv.get(f, []))
        if s is not None and "rows" in s:
            return s["rows"] - live
        return (
            pq.ParquetFile(
                io.parquet_source(os.path.join(root, f))
            ).metadata.num_rows
            - live
        )

    if not where:
        return sum(_rows_of(f, m[f]) for f in m)
    where = _norm_where(where)

    def _fully_inside(s: dict | None) -> bool:
        if s is None:
            return False
        for col, bound in where.items():
            if isinstance(bound, _In):
                return False  # IN: per-row membership — always scan
            lo, hi = bound
            cs = (s.get("cols") or {}).get(col)
            if cs is None or cs["t"] == "null":
                return False
            if cs.get("nulls") != 0:
                return False  # NULLs fail the predicate: must scan
            if lo is not None:
                lo_c = _as_bound(lo, cs["t"])
                if lo_c is None or cs["min"] < lo_c:
                    return False
            if hi is not None:
                hi_c = _as_bound(hi, cs["t"])
                if hi_c is None or cs["max"] > hi_c:
                    return False
        return True

    total = 0
    boundary = []
    for f in sorted(m):
        if not _keep_file(where, (m[f] or {}).get("cols")):
            continue  # provably empty for the range
        if _fully_inside(m[f]):
            total += _rows_of(f, m[f])
        else:
            boundary.append(f)
    if boundary:
        # the range edge cuts through these files: scan them with the
        # predicate pushed down and deletion vectors applied
        total += _read_files(
            spark, table_root, boundary, where=where,
            deleted=_dv_frame(spark, table_root, boundary, dv),
        ).count()
    return total


def txn_history(spark: SparkSession, table_root: str) -> "DataFrame":
    """DESCRIBE HISTORY: one row per commit, newest first — the audit
    surface a lakehouse table owes its operators. Driver-side log fold
    (metadata-sized), returned as a DataFrame for joins/filters."""
    head = latest_version(table_root)
    rows = []
    for v in range(1, head + 1):
        c = _read_commit(table_root, v)
        rows.append(
            (
                v,
                c["op"],
                c.get("writer", ""),
                c.get("base_version", v - 1),
                len(c["adds"]),
                len(c["removes"]),
                bool(c.get("data_change", True)),
                sorted(c.get("partitions") or []),
            )
        )
    schema = (
        "version long, op string, writer string, base_version long, "
        "n_added_files long, n_removed_files long, data_change boolean, "
        "partitions array<string>"
    )
    from pyspark.sql import functions as F

    from .storage import local_rows_df

    df = local_rows_df(spark, rows, schema)
    return df.orderBy(F.desc("version"))


def _partition_cols_of(rel_paths: list[str]) -> list[str]:
    """Partition column names encoded in hive-style dir segments of the
    committed file paths (``p=a/q=b/file.parquet`` → ``[p, q]``)."""
    return list(_hive_parts(rel_paths[0])) if rel_paths else []


def txn_optimize(
    spark: SparkSession,
    table_root: str,
    target_file_bytes: int = 128 << 20,
    zorder_by: list[str] | None = None,
    writer: str = "",
) -> dict:
    """Compact small files (and optionally re-cluster by Z-order) as a
    single ``optimize`` commit — Delta's OPTIMIZE [ZORDER BY] on the
    plain-parquet log.

    Candidates: committed files under ``target_file_bytes`` (with
    ``zorder_by``, EVERY committed file — re-clustering must rewrite
    the layout). They are read back in one Spark job, range-partitioned
    on (partition cols, z-key) so each output task covers a contiguous
    slice of one partition's key space, z-sorted within tasks (tight
    row-group stats), staged race-free, and committed with
    ``op="optimize"``.

    Concurrency: optimize rewrites bytes, not rows — its only read
    dependency is the exact files it compacts, so the commit COMMUTES
    with concurrent appends (even into the same partitions) and
    conflicts only when a rival commit removed one of those same files
    (merge or another optimize). Superseded originals stay on disk for
    snapshot readers; ``txn_vacuum`` reclaims them.

    At 100 TB: the candidate list is driver-side metadata (the same
    fold every reader does); the rewrite itself is one distributed
    job whose output count is sized bytes/target. Run it per recent
    ingest window, like any compaction job. Fresh footer stats are
    recorded by ``commit`` as usual, so data skipping gets the full
    benefit of the new clustering immediately."""
    init_table(table_root)
    root = _root(table_root)
    io = _io(table_root)
    base_ver, m, dv = _fold(table_root)
    plan = _plan_compaction(
        sorted(m), lambda f: io.size(os.path.join(root, f)),
        target_file_bytes, zorder_by, has_dv=lambda f: bool(dv.get(f)),
    )
    if plan is None:
        return {
            "version": base_ver,
            "rewritten_files": 0,
            "new_files": 0,
            "skipped": True,
        }
    cand, total = plan
    part_cols = _partition_cols_of(cand)
    df = _read_files(
        spark, table_root, cand, schema=table_schema(table_root),
        deleted=_dv_frame(spark, table_root, cand, dv),
    )
    out = _compaction_layout(
        df, part_cols, zorder_by, total, target_file_bytes, len(cand)
    )
    tag = uuid.uuid4().hex[:12]
    adds = stage_files(spark, out, table_root, part_cols, tag)
    ver = commit(
        table_root,
        adds,
        cand,
        "optimize",
        [],
        base_version=base_ver,
        writer=writer or "optimize",
        stats=collect_file_stats(table_root, adds, spark=spark),
        data_change=False,  # same rows, new layout: CDF/stream invisible
    )
    return {
        "version": ver,
        "rewritten_files": len(cand),
        "new_files": len(adds),
        "bytes_before": total,
        "skipped": False,
    }


def txn_analyze(
    table_root: str, writer: str = "", spark: SparkSession | None = None
) -> dict:
    """ANALYZE TABLE: record footer stats for committed files that
    have NONE — adopted pre-txn tables, legacy stat-less commits,
    clones of such — as one metadata ``restat`` commit, so data
    skipping starts applying to them.  Footer reads only (no data
    scan); pass ``spark`` to distribute them when the backlog is an
    entire adopted table (an un-analyzed 100 TB adoption is the one
    place the todo list is table-sized, not commit-sized).
    Commit-time stats are never overridden.  Idempotent: a second run
    finds nothing."""
    init_table(table_root)
    _, m, _dv = _fold(table_root)
    todo = sorted(f for f, s in m.items() if s is None)
    if not todo:
        return {"restatted": 0, "version": latest_version(table_root)}
    stats = collect_file_stats(table_root, todo, spark=spark)
    ver = commit(
        table_root,
        [],
        [],
        "restat",
        [],
        base_version=latest_version(table_root),
        writer=writer or "analyze",
        stats={},
        data_change=False,
        restat=stats,
    )
    return {"restatted": len(stats), "version": ver}


def txn_vacuum(
    table_root: str,
    retain_versions: int = 0,
    min_age_s: float = 0.0,
    dry_run: bool = False,
) -> list[str]:
    """Remove data files not referenced by any RETAINED snapshot —
    crashed-transaction orphans and rewritten-away files.

    ``retain_versions=K`` keeps every file referenced by the last K+1
    snapshots (head-K .. head), so time travel and long-running readers
    over that window stay valid after the vacuum (Delta's retention,
    expressed in versions rather than hours).  ``min_age_s`` skips
    files modified more recently than that many seconds — the guard
    for IN-FLIGHT transactions, whose staged files exist on disk
    before their commit lands and must not be swept mid-write.

    The defaults (0, 0.0) are Delta's VACUUM(0h): only safe when no
    transaction is mid-write and no reader holds an old snapshot —
    run that form from a quiesced maintenance window.  Returns removed
    root-relative paths; ``dry_run=True`` returns what WOULD be
    removed without touching anything (the operational safety check
    before a destructive window).

    On a MULTI-LOG root (a published or converted table whose
    ``_delta_log`` / ``metadata/`` describe the same files), files a
    sibling log's remaining history references are NOT removed — see
    ``sources/refsets.py`` for the cross-log retention contract
    (reclaiming a shared file requires tightening retention on every
    log: :func:`txn_log_cleanup` here,
    ``cleanup_delta_log`` / ``expire_snapshots`` on the siblings)."""
    import time

    from .operators.merge import _list_data_files, delete_rel_files

    head = latest_version(table_root)
    keep: set[str] = set()
    keep_dv_dirs: set[str] = set()
    for v in range(max(0, head - retain_versions), head + 1):
        _, m, dvm = _fold(table_root, v)
        keep |= set(m)
        for es in dvm.values():
            keep_dv_dirs |= {e["dv"] for e in es}
    # ONE directory listing, and the deletion set is derived from THAT
    # listing: re-listing inside the deleter would be a TOCTOU hole —
    # a file staged between the age check and a second listing would
    # be swept regardless of its age, which is exactly the mid-write
    # sweep min_age_s exists to prevent
    listed = _list_data_files(table_root)
    root = _root(table_root)
    io = _io(table_root)
    # MULTI-LOG roots (adopt/publish/convert products): never treat a
    # sibling log's metadata plane as data (_delta_log checkpoints and
    # CDF/position-delete exports are spec-named .parquet), and never
    # delete a data file the sibling's remaining history still
    # references — each log reclaims only what EVERY coexisting log
    # has let go (sources/refsets.py, the stated retention contract)
    from .sources.refsets import (
        METADATA_DIRS, is_protected, sibling_referenced,
    )

    # the shared list minus this tier's OWN planes (_dv is swept by
    # the keep_dv_dirs rule below; _txn_log holds no .parquet)
    _SIBLING_META = tuple(
        d for d in METADATA_DIRS if d not in ("_dv", "_txn_log")
    )
    sib_files, sib_dirs = sibling_referenced(root, exclude="txn")
    cutoff = time.time() - min_age_s
    orphans = []
    for rel in sorted(listed - keep):
        top = rel.split(os.sep)[0]
        if top in _SIBLING_META or top.startswith("_staging_"):
            continue
        if is_protected(rel, sib_files, sib_dirs):
            continue
        if rel.startswith("_dv" + os.sep):
            # deletion-vector sidecars are referenced by DIRECTORY in
            # the log; keep every file under a retained vector's dir
            if os.path.dirname(rel) in keep_dv_dirs:
                continue
        if min_age_s > 0:
            try:
                if io.mtime(os.path.join(root, rel)) > cutoff:
                    continue  # too fresh — possibly in-flight
            except OSError:
                continue  # vanished mid-scan: leave it alone
        orphans.append(rel)
    if dry_run:
        return orphans
    removed = delete_rel_files(table_root, orphans)
    # bloom sidecars follow their data file by name: sweep any whose
    # file is gone (just-vacuumed or from an earlier crash window) —
    # keep-on-exists otherwise, since immutable files never stale
    bdir = os.path.join(root, _BLOOM_DIR)
    for rel in io.walk_files(bdir) if io.is_dir(bdir) else []:
        data = rel[:-5] if rel.endswith(".json") else None
        if data and not io.exists(os.path.join(root, data)):
            try:
                io.delete(os.path.join(bdir, rel))
            except OSError:
                pass
    return removed


def fold_horizon(table_root: str) -> int:
    """The OLDEST version still foldable after log cleanup: the
    smallest ``v`` such that every version in ``[v, head]`` resolves
    through a remaining checkpoint + intact commit tail. 1 on an
    uncleaned log. Every consumer that walks versions ``1..head``
    (publish, refresh, lineage checks) must start here instead —
    versions below the horizon raise on read and cannot be walked."""
    head = latest_version(table_root)
    if head == 0:
        return 1
    log = _log_dir(table_root)
    present = {
        int(n[1:-5])
        for n in _store(log).list(log)
        if n.startswith("v") and n.endswith(".json")
    }
    best = None
    for b in [0] + _cp_list(log):
        if b > head:
            continue
        if all(v in present for v in range(b + 1, head + 1)):
            cand = max(b, 1)
            best = cand if best is None else min(best, cand)
    # the head commit itself always survives cleanup, so at worst the
    # head alone is foldable (through the checkpoint at head)
    return best if best is not None else head


def readable_versions(table_root: str) -> list[int]:
    """Versions that still read back, oldest first: foldable (at or
    above :func:`fold_horizon`) and with every data file of the
    snapshot still on disk — :func:`txn_vacuum` reclaims the files of
    superseded snapshots, after which those versions are gone even
    though their commits remain in the log. One listing of the table
    plus one fold per version."""
    if not is_txn_table(table_root):
        return []
    from .operators.merge import _list_data_files

    on_disk = _list_data_files(table_root)
    return [
        v
        for v in range(fold_horizon(table_root), latest_version(table_root) + 1)
        if snapshot(table_root, v)[1] <= on_disk
    ]


def txn_log_cleanup(table_root: str, keep_commits: int = 0) -> dict:
    """Metadata cleanup — the txn tier's RETENTION KNOB (the
    ``cleanup_delta_log`` twin): drop commit JSONs at or below the
    newest checkpoint, plus superseded older checkpoints (and their
    ``.files.pq`` sidecars). The snapshot, schema, constraints and
    writer-app watermarks all fold from the checkpoint alone (the
    checkpoint header carries them for exactly this reason); time
    travel and incremental replay below the horizon RAISE, never
    mis-read.

    ``keep_commits`` keeps the newest N commit JSONs even below the
    checkpoint (live streaming consumers lagging up to N commits keep
    replaying) — size it past max consumer lag, the same rule the
    external churn soak pins for the Delta twin.

    This is also what lets a SIBLING log on a multi-log root reclaim
    shared files: ``sources/refsets.py`` protects everything this
    log's remaining commits reference, so shrinking the log here is
    the sanctioned way to release history (vacuum alone removes data
    files but leaves the commits — and therefore the references —
    behind)."""
    log = _log_dir(table_root)
    io = _io(table_root)
    cps = sorted(_cp_list(log))
    if not cps:
        return {"removed_commits": 0, "checkpoint": None}
    cp = cps[-1]
    head = latest_version(table_root)
    floor = head - max(0, int(keep_commits))
    removed = 0
    for n in _store(log).list(log):
        full = os.path.join(log, n)
        if n.startswith("v") and n.endswith(".json"):
            v = int(n[1:-5])
            # the HEAD commit always stays: latest_version() derives
            # the head from commit JSONs (the checkpoint is a fold
            # accelerator, not the version authority)
            if v <= min(cp, floor) and v != head:
                io.delete(full)
                removed += 1
        elif n.startswith("checkpoint-v") and n.endswith(".json"):
            v = int(n[len("checkpoint-v"):-5])
            if v < cp:
                hdr = None
                try:
                    hdr = json.loads(_store(log).read(full))
                except (OSError, json.JSONDecodeError):
                    pass
                io.delete(full)
                fp = (hdr or {}).get("files_parquet")
                if fp:
                    io.delete(os.path.join(log, fp))
    return {"removed_commits": removed, "checkpoint": cp}


def txn_restore(
    table_root: str,
    version: int,
    writer: str = "",
) -> dict:
    """RESTORE TABLE TO VERSION AS OF ``version``: one commit that
    swaps the live file set back to the old snapshot — removes every
    file added since, re-adds every file dropped since (with its
    recorded stats), and reinstates the old snapshot's deletion-vector
    state on the re-added files. History stays append-only: the
    restore is a NEW version on top (time travel to the undone
    versions still works until vacuum), exactly Delta's RESTORE.

    Metadata-only on the happy path — no data is read or written; the
    old files must still exist on disk, so a restore deeper than your
    ``txn_vacuum retain_versions`` window raises (same contract as
    Delta: RESTORE past retention fails). The schema as of ``version``
    is re-recorded when it differs, so schema evolution rolls back
    with the data.

    Conflicts: the commit removes every current file, so it serializes
    against ANY concurrent rewrite/delete and racing appends into
    overlapping partitions rebase under the normal rules (their rows
    were not part of either snapshot and survive the restore).

    Incremental consumers (:func:`txn_changes`, the ``txn_table``
    stream) see the restore as file-granularity re-inserts of the
    restored snapshot (minus its vectored rows) — the merge caveat:
    consumers must stay idempotent per key.

    Returns ``{"version", "restored_to", "files_added",
    "files_removed"}``."""
    head, cur, _cur_dv = _fold(table_root)
    if not 0 <= version <= head:
        raise ValueError(f"restore target {version} outside [0, {head}]")
    old_v, old, old_dv = _fold(table_root, version)
    root = _root(table_root)
    io = _io(table_root)
    adds = sorted(set(old) - set(cur))
    removes = sorted(set(cur) - set(old))
    # files present in BOTH snapshots whose vector state diverged must
    # also cycle (remove + re-add) so the fold drops the newer vectors
    for f in sorted(set(old) & set(cur)):
        if old_dv.get(f, []) != _cur_dv.get(f, []):
            adds.append(f)
            removes.append(f)
    missing = [
        f for f in adds if not io.exists(os.path.join(root, f))
    ] + [
        os.path.join(e["dv"])
        for f in adds
        for e in old_dv.get(f, [])
        if not io.is_dir(os.path.join(root, e["dv"]))
    ]
    if missing:
        raise ValueError(
            f"cannot restore {table_root} to v{version}: "
            f"{len(missing)} required files vacuumed (e.g. {missing[:3]})"
        )
    if not adds and not removes:
        return {
            "version": head,
            "restored_to": old_v,
            "files_added": 0,
            "files_removed": 0,
        }
    old_schema = table_schema_json(table_root, old_v)
    ver = commit(
        table_root,
        adds,
        removes,
        "restore",
        [],
        base_version=head,
        writer=writer or f"restore@v{version}",
        stats={f: s for f in adds if (s := old.get(f))},
        deletes={f: old_dv[f] for f in adds if old_dv.get(f)},
        schema_json=(
            old_schema
            if old_schema != table_schema_json(table_root, head)
            else None
        ),
    )
    return {
        "version": ver,
        "restored_to": old_v,
        "files_added": len(adds),
        "files_removed": len(removes),
    }


def txn_clone(
    src_root: str,
    dst_root: str,
    version: int | None = None,
) -> dict:
    """CLONE TABLE: create a new independent txn table at ``dst_root``
    from ``src_root``'s snapshot at ``version`` (default latest) —
    ZERO-COPY where the filesystem allows it (data files and
    deletion-vector sidecars hard-link; copy is the fallback), so
    cloning a 100 TB table moves metadata, not bytes.  The clone's log
    starts fresh (one ``clone`` commit carrying the snapshot's files,
    stats, vector state, schema, and constraints), after which the two
    tables share nothing logically: writes and vacuums on either side
    never affect the other (a vacuum only unlinks its own root's
    names; shared inodes persist until both sides drop them).  This is
    the dev-branch / experiment pattern of Delta's SHALLOW CLONE with
    none of its dangling-reference hazard.

    Returns ``{"version", "files", "bytes"}`` (bytes = logical size)."""
    if is_txn_table(dst_root) or _io(dst_root).is_dir(_root(dst_root)):
        raise ValueError(f"clone target {dst_root} already exists")
    v, m, dv = _fold(src_root, version)
    src = _root(src_root)
    dst = _root(dst_root)
    src_io = _io(src_root)
    dst_io = _io(dst_root)
    dst_io.makedirs(dst)
    init_table(dst_root)  # dst is empty: log only, no adopt commit
    total = 0

    def _link(rel: str) -> None:
        sp, d = os.path.join(src, rel), os.path.join(dst, rel)
        if src_io is dst_io:
            src_io.copy_file(sp, d)  # same store: link / CopyObject
        else:
            # cross-store clone: one GET + one PUT per file through
            # the driver — bounded by the snapshot's file count; for
            # 100 TB cross-store moves use a distributed copy first
            # and adopt, not clone
            dst_io.put_bytes(d, src_io.read_bytes(sp))

    for rel in sorted(m):
        _link(rel)
        total += dst_io.size(os.path.join(dst, rel))
    sidecar_dirs = sorted({e["dv"] for es in dv.values() for e in es})
    for d_rel in sidecar_dirs:
        for fn in src_io.walk_files(os.path.join(src, d_rel)):
            _link(os.path.join(d_rel, fn))
    # bloom sidecars travel with their (immutable) files, so the
    # clone keeps point-lookup skipping without a rebuild
    for rel in sorted(m):
        if src_io.exists(os.path.join(src, _bloom_sidecar(rel))):
            _link(_bloom_sidecar(rel))
    ver = commit(
        dst_root,
        sorted(m),
        [],
        "clone",
        [],
        base_version=latest_version(dst_root),
        writer=f"clone#v{v}",
        stats={f: s for f, s in m.items() if s},
        deletes={f: es for f, es in dv.items() if es},
        schema_json=table_schema_json(src_root, v),
    )
    for n, e in table_constraints(src_root, v).items():
        ver = commit(
            dst_root,
            [],
            [],
            "add_constraint",
            [],
            base_version=ver,
            writer="clone",
            stats={},
            data_change=False,
            constraint={"name": n, "expr": e},
        )
    return {"version": ver, "files": len(m), "bytes": total}


def txn_changes(
    spark: SparkSession,
    table_root: str,
    from_version: int,
    to_version: int | None = None,
    schema=None,
    change_types: bool = False,
) -> DataFrame:
    """CHANGE DATA FEED over the commit log: the row changes made by
    commits in ``(from_version, to_version]`` — an incremental
    consumer reads only the delta instead of diffing snapshots or
    rescanning the table.

    Rows are tagged with the commit that introduced them
    (``_commit_version``) so a consumer can checkpoint "processed
    through version V" and resume exactly. With ``change_types=True``
    a ``_change_type`` column is added and the feed becomes Delta's
    FULL CDF:

    - append/merge adds → ``insert``
    - ``txn_update`` adds → ``update_postimage``; its vectored-out
      old rows → ``update_preimage``
    - ``txn_delete`` vectored rows → ``delete``

    Before-images are expressible precisely BECAUSE deletes are
    deletion vectors: the original file is still on disk (history is
    immutable until vacuum) and the commit's sidecar lists exactly
    the positions it killed — one semi-join recovers the rows. A file
    already vacuumed raises on read, the same contract as Delta CDF
    past the retention window.

    Granularity caveat (merge only): a merge REWRITES files, so it
    re-emits every surviving row of a conflict file as ``insert``
    under its version; merge consumers must stay idempotent per key.
    Append/delete/update commits emit exactly their true row deltas.

    At 100 TB: the log fold is metadata-sized; inserts scan exactly
    the new files, before-images scan only the files a vector touched
    restricted by a position semi-join."""
    head = latest_version(table_root)
    to_v = head if to_version is None else to_version
    if not 0 <= from_version <= to_v <= head:
        raise ValueError(
            f"bad version range ({from_version}, {to_v}] with head {head}"
        )
    if schema is None:
        # schema-tracked tables: one read schema for every commit in
        # the range, so pre-evolution files union cleanly with evolved
        schema = table_schema(table_root)
    from pyspark.sql import functions as F

    parts = []
    for v in range(from_version + 1, to_v + 1):
        c = _read_commit(table_root, v)
        # layout-only commits (optimize: dataChange=false) re-add rows
        # that already streamed through an earlier version — emitting
        # them would double every compacted row for incremental readers
        if not c.get("data_change", True):
            continue
        add_type = (
            "update_postimage" if c["op"] == "update" else "insert"
        )
        deletes = {
            f: (e if isinstance(e, list) else [e])
            for f, e in (c.get("deletes") or {}).items()
        }
        if c["adds"]:
            # a restore commit's vectors apply to its OWN adds
            # (reinstated deletion state of re-added files): those rows
            # are not live at this version and must not stream as
            # inserts — subtract them in-plan
            df = _read_files(
                spark,
                table_root,
                list(c["adds"]),
                schema=schema,
                deleted=_dv_frame(spark, table_root, c["adds"], deletes),
            )
            if change_types:
                df = df.withColumn("_change_type", F.lit(add_type))
            parts.append(df.withColumn(
                # cast: F.lit(python int) is IntegerType, but the
                # empty-range branch types the column LongType — a
                # checkpointing consumer appending both to one sink
                # must see ONE schema
                "_commit_version", F.lit(v).cast("long"),
            ))
        true_deletes = {f: es for f, es in deletes.items() if f not in c["adds"]}
        if change_types and true_deletes:
            pre_type = (
                "update_preimage" if c["op"] == "update" else "delete"
            )
            touched = sorted(true_deletes)
            raw = _read_files(
                spark, table_root, touched, schema=schema, keep_meta=True
            )
            dvdf = _dv_frame(spark, table_root, touched, true_deletes)
            pre = (
                raw.join(dvdf, ["__file", "__pos"], "left_semi")
                .drop("__file", "__pos")
                .withColumn("_change_type", F.lit(pre_type))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
            parts.append(pre)
        if change_types and c["op"] == "overwrite" and c["removes"]:
            # replaceWhere removes whole files: their still-live rows
            # (minus pre-existing vectors) stream as ``delete`` so a
            # CDF consumer RETRACTS the replaced partition instead of
            # keeping it forever. (Merge keeps its documented
            # idempotent-per-key contract — its removes re-emit as
            # inserts of the surviving rows; an overwrite is a true
            # retraction, so it must say so.)
            _, _, dv_prev = _fold(table_root, v - 1)
            rm = (
                _read_files(
                    spark,
                    table_root,
                    list(c["removes"]),
                    schema=schema,
                    deleted=_dv_frame(
                        spark, table_root, c["removes"], dv_prev
                    ),
                )
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
            parts.append(rm)
    if not parts:
        if schema is None:
            raise ValueError(
                f"{table_root}: no changes in ({from_version}, {to_v}]; "
                "pass schema for an empty frame"
            )
        from pyspark.sql import types as T

        extra = [T.StructField("_change_type", T.StringType())] if (
            change_types
        ) else []
        empty_schema = T.StructType(
            list(schema.fields)
            + extra
            + [T.StructField("_commit_version", T.LongType())]
        )
        from .storage import local_rows_df

        return local_rows_df(spark, [], empty_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
