"""EXTERNAL lakehouse tables as Structured Streaming sources:
``readStream.format("delta_table")`` / ``format("iceberg_table")`` —
the streaming legs of :mod:`.delta` / :mod:`.iceberg`, built on the
same machinery as the engine's own :mod:`.txn_stream`.

Offsets are the formats' own bookkeeping, so checkpoint recovery
replays any batch exactly (the replayability contract):

- Delta: COMMIT VERSIONS. A micro-batch covers the ``dataChange``
  adds of commits in ``(start, end]``, tagged ``_commit_version``.
- Iceberg: the LINEAGE CHAIN position (parent-snapshot-id walk /
  snapshot-log — snapshot ids are random longs, never ordered
  numerically). Offsets carry (position, snapshot-id) so a rewritten
  or rolled-back history is DETECTED on replay instead of silently
  re-feeding different data; batches tag ``_snapshot_id``.

Scale shape (same as txn_stream): the driver folds only metadata;
every InputPartition is ONE data file read executor-side via pyarrow
— a snapshot that added 10k files becomes 10k parallel tasks and the
bytes never touch the driver. Delta deletion vectors decode
EXECUTOR-side from their descriptors (:mod:`.roaring`) and mask the
file's rows, so a DV'd commit streams its live rows.

Rewrites (removes / DELETED entries / DV'd re-adds) cannot stream as
appends: they FAIL CLOSED by default, exactly like the Delta source
without ``ignoreChanges``; ``.option("ignoreChanges", "true")``
accepts re-emission semantics (the consumer dedups upstream —
pair with the engine's exactly-once txn sink, q161-style).

Options: ``path`` (table root, required); Delta ``startingVersion``
(default ``-1`` = from the beginning incl. commit 0; ``N`` = first
batch begins at N+1; ``latest``) or ``startingTimestamp`` (first
commit at/after it; a future timestamp = only new commits); Iceberg
``startingSnapshot`` (default from the beginning; a snapshot id =
strictly after it; ``latest``); ``ignoreChanges``.

CHANGE DATA FEED mode (Delta): ``.option("readChangeFeed", "true")``
streams the row-level change feed instead of the append feed — the
schema gains ``_change_type``, commits carrying ``cdc`` actions serve
exactly those ``_change_data`` files (pre/post images; the same
commit's add/remove rewrite is ignored for CDC, per spec), CDF-less
append commits emit their adds as ``insert`` rows, and a CDF-less
delete/rewrite commit FAILS CLOSED (without cdc files its row-level
changes cannot be reconstructed; ``ignoreChanges`` does not apply —
CDF is exact or it is an error). Mirrors the batch
:func:`.delta.delta_cdf` contract.

PACING: ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` (Delta,
counting the batch's data/cdc files or their logged sizes) and ``maxSnapshotsPerTrigger`` (Iceberg — the offset is a
lineage position, so a snapshot is the finest admissible unit) bound
each micro-batch, always admitting at least one commit/snapshot. The
Python DataSource API has no admission-control handshake
(``latestOffset`` takes no start offset), so pacing is CURSOR-
emulated: the reader tracks the last planned batch end, and a restart
is safe because Spark reconstructs the offset log's last batch
through ``partitions(start, end)`` BEFORE the next ``latestOffset``
— the cursor is always current when pacing decides. One trigger-
shape caveat: under ``Trigger.AvailableNow`` Spark captures ONE
``latestOffset`` per run, so a paced run drains a single slice and
terminates; re-running resumes from the checkpoint, and repeated
runs drain everything exactly-once. Unset (default) = unbounded
batches, availableNow drains fully in one run.
"""

from __future__ import annotations

import json
import os
import urllib.parse

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fileio import decode_fileio, io_for


def _option_io(options, path):
    """The FileIO serving this source: the ``fileio`` option when set
    (required for custom schemes — DataSource methods run in worker
    processes with no scheme registry), else scheme resolution."""
    enc = options.get("fileio")
    return decode_fileio(enc) if enc else io_for(path)


def _truthy(v) -> bool:
    return str(v).lower() in ("true", "1", "yes")


def _arrow_batch(tbl, schema, consts: dict, part_vals: dict):
    """One pyarrow table → one RecordBatch under the declared Spark
    schema: constants broadcast, hive/partition values typed per the
    declared field, timestamps relabeled as UTC instants (the
    txn_stream rule)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    n = tbl.num_rows
    arrays = []
    names = []
    for f in schema.fields:
        at = to_arrow_type(f.dataType)
        if f.name in consts:
            col = pa.array([consts[f.name]] * n, type=at)
        elif f.name in tbl.schema.names:
            src = tbl.column(f.name).combine_chunks()
            if src.type.equals(at):
                col = src
            elif pa.types.is_timestamp(src.type):
                col = src.cast(
                    pa.timestamp(src.type.unit, "UTC")
                ).cast(at)
            else:
                col = src.cast(at)
        elif f.name in part_vals:
            col = pa.array([part_vals[f.name]] * n).cast(at)
        else:
            col = pa.nulls(n, type=at)
        arrays.append(col)
        names.append(f.name)
    return pa.RecordBatch.from_arrays(arrays, names)


# ---------------------------------------------------------------------------
# Delta
# ---------------------------------------------------------------------------
class DeltaTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_table"

    def schema(self):
        from . import delta as DL

        path = self.options.get("path")
        if not path:
            raise ValueError("delta_table requires .option('path', ...)")
        _v, md, _adds = DL.delta_snapshot_arrow(
            path, io=_option_io(self.options, path)
        )
        if DL._column_mapping(md):
            raise DL.DeltaUnsupportedError(
                "streaming a columnMapping table is not supported; "
                "batch read_delta is"
            )
        fields = list(DL.delta_schema(md).fields)
        if _truthy(
            self.options.get(
                "readChangeFeed", self.options.get("readchangefeed")
            )
        ):
            fields.append(StructField("_change_type", StringType()))
        return StructType(
            fields + [StructField("_commit_version", LongType())]
        )

    def streamReader(self, schema):
        return DeltaTableStreamReader(self.options, schema)

    def reader(self, schema):
        raise NotImplementedError(
            "batch reads go through sources.delta.read_delta; this "
            "format is the STREAMING leg"
        )


class DeltaTableStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        from . import delta as DL

        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_table requires .option('path', ...)")
        # from the fileio option when set, else scheme resolution;
        # pickled to executors with the reader
        self._io = _option_io(options, self.path)
        # LISTING CURSOR: commit names are zero-padded (key-ordered),
        # so each trigger lists only names AFTER the newest version
        # seen — O(new commits) per micro-batch, not O(log size).
        # Object stores serve this as a StartAfter range listing.
        self._known_head: int | None = None
        self._versions: set[int] = set()
        self._actions: dict[int, list] = {}
        sv = options.get(
            "startingVersion", options.get("startingversion")
        )
        st = options.get(
            "startingTimestamp", options.get("startingtimestamp")
        )
        if sv is not None and st is not None:
            raise ValueError(
                "pass startingVersion OR startingTimestamp, not both"
            )
        if st is not None:
            # first batch starts at the first commit AT/after the
            # timestamp (Delta's startingTimestamp contract), over
            # MONOTONIZED timestamps so the resolution is a total
            # order even when commits share one clock tick
            vs = sorted(self._list_versions())
            ts_of = DL._commit_timestamps_monotonic(
                self.path, vs, self._io
            )
            after = [v for v in vs if ts_of[v] >= int(st)]
            self.start_v = (after[0] - 1) if after else (
                vs[-1] if vs else -1
            )
        elif sv is None:
            self.start_v = -1
        elif str(sv).lower() == "latest":
            vs = self._list_versions()
            self.start_v = max(vs) if vs else -1
        else:
            self.start_v = int(sv)
        self.ignore_changes = _truthy(
            options.get("ignoreChanges", options.get("ignorechanges"))
        )
        self.cdf = _truthy(
            options.get("readChangeFeed", options.get("readchangefeed"))
        )
        mft = options.get(
            "maxFilesPerTrigger", options.get("maxfilespertrigger")
        )
        self.max_files = int(mft) if mft is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        mbt = options.get(
            "maxBytesPerTrigger", options.get("maxbytespertrigger")
        )
        self.max_bytes = int(mbt) if mbt is not None else None
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        # pacing cursor: the stream's current position. On a RESTART,
        # Spark reconstructs the offset log's last batch through
        # partitions(start, end) BEFORE the next latestOffset, so the
        # cursor is always set by then; a None cursor in latestOffset
        # can only mean a FRESH stream, whose position is start_v.
        self._cursor: int | None = None
        self._counts: dict[int, tuple[int, int]] = {}
        self.schema = schema

    def initialOffset(self) -> dict:
        self._cursor = self.start_v
        return {"v": self.start_v}

    def _list_versions(self) -> set[int]:
        """All commit versions, maintained INCREMENTALLY: the first
        call lists the whole log; later calls list only names after
        the newest seen (commit files are immutable and append-only,
        so everything cached stays true)."""
        from . import delta as DL

        new = DL._commit_versions(
            self.path, self._io, after=self._known_head
        )
        self._versions.update(new)
        if self._versions:
            self._known_head = max(self._versions)
        return self._versions

    def _commit_actions(self, v: int, pop: bool = False) -> list[dict]:
        """Parsed actions of one commit, cached so a version parsed
        for pacing (latestOffset) is not re-parsed when partitions()
        plans it; ``pop`` drops the cache entry (plan time — each
        version is planned once)."""
        from . import delta as DL

        if v in self._actions:
            return self._actions.pop(v) if pop else self._actions[v]
        try:
            text = self._io.read_text(
                os.path.join(self.path, DL._LOG, f"{v:020d}.json")
            )
        except FileNotFoundError:
            if pop:
                # plan time: the version WAS listed (cache) but its
                # JSON is gone — log cleanup outran this consumer.
                # Keep the informative diagnosis the pre-cache code
                # gave instead of a raw FileNotFoundError mid-batch.
                raise ValueError(
                    f"{self.path}: commit {v} cleaned up — streaming "
                    "replay past log cleanup is unrecoverable "
                    "(size cleanup retention above max consumer lag: "
                    "cleanup_delta_log(keep_commits=...))"
                ) from None
            raise
        out = []
        for line in text.splitlines():
            line = line.strip()
            if line:
                out.append(json.loads(line))
        if not pop:
            self._actions[v] = out
        return out

    def _commit_load(self, v: int) -> tuple[int, int]:
        """(files, bytes) a commit would contribute to a micro-batch
        (data-changing adds; in CDF mode the cdc files supersede the
        adds), for admission control only — gaps count 0 and fail
        later in partitions with the real message."""
        if v in self._counts:
            return self._counts[v]
        try:
            actions = self._commit_actions(v)
        except FileNotFoundError:
            return (0, 0)
        adds = [
            a["add"]
            for a in actions
            if "add" in a and a["add"].get("dataChange", True)
        ]
        picked: list[dict] = adds
        if self.cdf:
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            picked = cdc if cdc else adds
        load = (
            len(picked),
            sum(int(p.get("size") or 0) for p in picked),
        )
        self._counts[v] = load
        return load

    def latestOffset(self) -> dict:
        vs = self._list_versions()
        head = max(vs) if vs else self.start_v
        cursor = self.start_v if self._cursor is None else self._cursor
        if (
            self.max_files is None and self.max_bytes is None
        ) or cursor >= head:
            return {"v": head}
        end, taken_f, taken_b = cursor, 0, 0
        for v in range(cursor + 1, head + 1):
            n_f, n_b = self._commit_load(v)
            over = (
                self.max_files is not None
                and taken_f + n_f > self.max_files
            ) or (
                self.max_bytes is not None
                and taken_b + n_b > self.max_bytes
            )
            if end > cursor and over:
                break
            taken_f += n_f
            taken_b += n_b
            end = v
        return {"v": end}

    def partitions(self, start: dict, end: dict):
        self._cursor = max(self._cursor or start["v"], end["v"])
        out = []
        versions = self._list_versions()
        for v in range(start["v"] + 1, end["v"] + 1):
            if v not in versions:
                raise ValueError(
                    f"{self.path}: commit {v} cleaned up — streaming "
                    "replay past log cleanup is unrecoverable"
                )
            if self.cdf:
                out.extend(self._cdf_partitions(v))
            else:
                out.extend(self._append_partitions(v))
        return out or [InputPartition(None)]

    def _append_partitions(self, v: int):
        out = []
        for action in self._commit_actions(v, pop=True):
            if "add" in action:
                a = action["add"]
                if not a.get("dataChange", True):
                    continue  # compaction: rows already seen
                dv = a.get("deletionVector")
                if dv and not self.ignore_changes:
                    raise ValueError(
                        f"{self.path}: commit {v} adds a "
                        f"deletion vector on {a['path']} — "
                        "deletes cannot stream as appends "
                        "(.option('ignoreChanges','true') "
                        "accepts re-emission of live rows)"
                    )
                dv_t = (
                    (
                        dv["storageType"],
                        dv["pathOrInlineDv"],
                        dv.get("offset"),
                        int(dv["sizeInBytes"]),
                        int(dv["cardinality"]),
                    )
                    if dv
                    else None
                )
                out.append(
                    InputPartition(
                        (
                            v,
                            urllib.parse.unquote(a["path"]),
                            sorted(
                                (a.get("partitionValues") or {}).items()
                            ),
                            dv_t,
                            None,
                        )
                    )
                )
            elif "remove" in action and action["remove"].get(
                "dataChange", True
            ):
                if not self.ignore_changes:
                    raise ValueError(
                        f"{self.path}: commit {v} removes "
                        f"{action['remove']['path']} — "
                        "rewrites/deletes cannot stream as "
                        "appends (.option('ignoreChanges',"
                        "'true') to accept re-emission)"
                    )
        return out

    def _cdf_partitions(self, v: int):
        """One commit's CHANGE-FEED partitions: cdc files verbatim
        (change type travels IN the file), else adds as inserts, else
        fail closed — same rules as the batch delta_cdf."""
        cdc, adds, removes, dvd = [], [], False, False
        for action in self._commit_actions(v, pop=True):
            if "cdc" in action:
                cdc.append(action["cdc"])
            elif "add" in action and action["add"].get(
                "dataChange", True
            ):
                adds.append(action["add"])
                if action["add"].get("deletionVector"):
                    dvd = True
            elif "remove" in action and action["remove"].get(
                "dataChange", True
            ):
                removes = True
        if cdc:
            return [
                InputPartition(
                    (
                        v,
                        urllib.parse.unquote(c["path"]),
                        sorted(
                            (c.get("partitionValues") or {}).items()
                        ),
                        None,
                        None,  # _change_type lives in the cdc file
                    )
                )
                for c in cdc
            ]
        if removes or dvd:
            raise ValueError(
                f"{self.path}: commit {v} deletes/rewrites rows but "
                "wrote no cdc actions — its row-level changes cannot "
                "be reconstructed (enable CDF at write time; "
                "ignoreChanges does not apply to the change feed)"
            )
        return [
            InputPartition(
                (
                    v,
                    urllib.parse.unquote(a["path"]),
                    sorted((a.get("partitionValues") or {}).items()),
                    None,
                    "insert",
                )
            )
            for a in adds
        ]

    def read(self, partition):
        if partition.value is None:
            return
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from . import roaring as RB

        v, rel, pv_items, dv_t, ctype = partition.value
        tbl = pq.read_table(
            os.path.join(self._io.spark_path(self.path), rel)
        )
        if dv_t is not None:
            dead = RB.dv_positions(self.path, *dv_t, rel, io=self._io)
            if len(dead) and int(dead.max()) >= tbl.num_rows:
                raise ValueError(
                    f"{rel}: deletion vector position {int(dead.max())} "
                    f">= file row count {tbl.num_rows}"
                )
            mask = np.ones(tbl.num_rows, bool)
            mask[dead] = False
            tbl = tbl.filter(pa.array(mask))
        consts = {"_commit_version": v}
        if ctype is not None:
            consts["_change_type"] = ctype
        yield _arrow_batch(tbl, self.schema, consts, dict(pv_items))

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the stream checkpoint


# ---------------------------------------------------------------------------
# Iceberg
# ---------------------------------------------------------------------------
class IcebergTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iceberg_table"

    def schema(self):
        from . import iceberg as IB

        path = self.options.get("path")
        if not path:
            raise ValueError(
                "iceberg_table requires .option('path', ...)"
            )
        md = IB.iceberg_metadata(
            path, io=_option_io(self.options, path)
        )
        return StructType(
            IB.iceberg_schema(md).fields
            + [StructField("_snapshot_id", LongType())]
        )

    def streamReader(self, schema):
        return IcebergTableStreamReader(self.options, schema)

    def reader(self, schema):
        raise NotImplementedError(
            "batch reads go through sources.iceberg.read_iceberg; "
            "this format is the STREAMING leg"
        )


class IcebergTableStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "iceberg_table requires .option('path', ...)"
            )
        # from the fileio option when set, else scheme resolution
        self._io = _option_io(options, self.path)
        self.ignore_changes = _truthy(
            options.get("ignoreChanges", options.get("ignorechanges"))
        )
        mst = options.get(
            "maxSnapshotsPerTrigger",
            options.get("maxsnapshotspertrigger"),
        )
        self.max_snaps = int(mst) if mst is not None else None
        if self.max_snaps is not None and self.max_snaps < 1:
            raise ValueError("maxSnapshotsPerTrigger must be >= 1")
        # pacing cursor (lineage position) — same contract as the
        # Delta reader's: a restart reconstructs the last batch via
        # partitions() before the next latestOffset, so None here can
        # only mean a fresh stream at the starting position.
        self._cursor: int | None = None
        self.schema = schema
        ss = options.get(
            "startingSnapshot", options.get("startingsnapshot")
        )
        chain = self._chain()
        if ss is None:
            self._start = {"n": self._base, "sid": None}
        elif str(ss).lower() == "latest":
            self._start = {
                "n": self._base + len(chain),
                "sid": chain[-1]["snapshot-id"] if chain else None,
            }
        else:
            sids = [s["snapshot-id"] for s in chain]
            if int(ss) not in sids:
                raise ValueError(
                    f"{self.path}: startingSnapshot {ss} not in the "
                    "current lineage"
                )
            n = self._base + sids.index(int(ss)) + 1
            self._start = {"n": n, "sid": int(ss)}

    def _chain(self):
        from . import iceberg as IB

        md = IB.iceberg_metadata(self.path, io=self._io)
        self._md = md
        # lineage positions are ABSOLUTE: expire_snapshots counts the
        # positions it dropped in this table property, so offsets in
        # old checkpoints keep meaning the same snapshots
        self._base = int(
            (md.get("properties") or {}).get(
                "engine.expired-positions", 0
            )
        )
        cur = md.get("current-snapshot-id")
        if cur is None or not md.get("snapshots"):
            return []
        return IB._lineage_chain(md, cur)

    def initialOffset(self) -> dict:
        self._cursor = self._start["n"]
        return dict(self._start)

    def latestOffset(self) -> dict:
        chain = self._chain()
        n = self._base + len(chain)
        cursor = (
            self._start["n"] if self._cursor is None else self._cursor
        )
        if self.max_snaps is not None and cursor < n:
            n = min(cursor + self.max_snaps, n)
        idx = n - self._base
        return {
            "n": n,
            "sid": (
                chain[idx - 1]["snapshot-id"] if 0 < idx <= len(chain)
                else None
            ),
        }

    def partitions(self, start: dict, end: dict):
        from . import avro_lite as AV
        from . import iceberg as IB

        self._cursor = max(
            self._cursor or start.get("n", 0), end.get("n", 0)
        )
        chain = self._chain()
        md = self._md
        base = self._base
        # replay safety: the checkpointed (position, sid) pairs must
        # still name the same lineage — a rollback/rewrite raises,
        # and a position below the expiry horizon means snapshots the
        # consumer never saw are GONE (unrecoverable, never silent)
        if start.get("n", 0) < base and start.get("n", 0) < end.get(
            "n", 0
        ):
            raise ValueError(
                f"{self.path}: checkpointed position {start.get('n')} "
                f"is below the expiry horizon {base} — unconsumed "
                "snapshots were expired; replay unrecoverable "
                "(re-read the snapshot instead)"
            )
        for off in (start, end):
            n, sid = off.get("n", 0), off.get("sid")
            idx = n - base
            if idx > len(chain):
                raise ValueError(
                    f"{self.path}: lineage shrank below checkpointed "
                    f"position {n} (rollback?) — replay unsafe"
                )
            if idx > 0 and sid is not None and (
                chain[idx - 1]["snapshot-id"] != sid
            ):
                raise ValueError(
                    f"{self.path}: snapshot at lineage position "
                    f"{n - 1} changed ({chain[idx - 1]['snapshot-id']} "
                    f"!= checkpointed {sid}) — history rewritten, "
                    "replay unsafe"
                )
        out = []
        for idx in range(
            max(0, start.get("n", 0) - base), end.get("n", 0) - base
        ):
            snap = chain[idx]
            sid = snap["snapshot-id"]
            if (snap.get("summary") or {}).get("operation") == (
                "replace"
            ):
                # compaction: same rows, new layout — the incremental
                # append scan skips it (Delta's dataChange=false)
                continue
            mlist = IB._resolve(self.path, md, snap["manifest-list"])
            _s, manifests = AV.read_container_file(mlist, io=self._io)
            for mf in manifests:
                if (
                    mf.get("added_snapshot_id") is not None
                    and mf["added_snapshot_id"] != sid
                ):
                    continue
                if int(mf.get("content") or 0) != 0:
                    if not self.ignore_changes:
                        raise ValueError(
                            f"{self.path}: snapshot {sid} adds a "
                            "DELETE manifest — row-level deletes "
                            "cannot stream as appends "
                            "(.option('ignoreChanges','true') to "
                            "accept re-emission semantics)"
                        )
                    continue
                man = IB._resolve(self.path, md, mf["manifest_path"])
                _s2, entries = AV.read_container_file(
                    man, io=self._io
                )
                for e in entries:
                    if e.get("snapshot_id") not in (None, sid):
                        continue
                    status = int(e.get("status") or 0)
                    if status == 2:
                        if not self.ignore_changes:
                            raise ValueError(
                                f"{self.path}: snapshot {sid} deletes "
                                f"{e['data_file']['file_path']} — "
                                "rewrites cannot stream as appends "
                                "(.option('ignoreChanges','true') to "
                                "accept re-emission)"
                            )
                        continue
                    if status != 1:
                        continue  # EXISTING: carried, not a change
                    df = e["data_file"]
                    if int(df.get("content") or 0) != 0:
                        raise IB.IcebergUnsupportedError(
                            "delete data files not supported"
                        )
                    if str(
                        df.get("file_format", "PARQUET")
                    ).upper() != "PARQUET":
                        raise IB.IcebergUnsupportedError(
                            f"file_format {df.get('file_format')}"
                        )
                    out.append(
                        InputPartition(
                            (
                                sid,
                                IB._resolve(
                                    self.path, md, df["file_path"]
                                ),
                            )
                        )
                    )
        return out or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return
        import pyarrow.parquet as pq

        sid, full = partition.value
        tbl = pq.read_table(self._io.spark_path(full))
        yield _arrow_batch(tbl, self.schema, {"_snapshot_id": sid}, {})

    def commit(self, end: dict) -> None:
        pass


def register(spark) -> None:
    """Idempotent registration of both external streaming formats."""
    spark.dataSource.register(DeltaTableDataSource)
    spark.dataSource.register(IcebergTableDataSource)
