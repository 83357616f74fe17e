"""Streaming source over the transaction log: ``readStream.format
("txn_table")`` — Delta's table-as-a-stream, on the engine's own log.

Offsets are COMMIT VERSIONS: each micro-batch covers the data files
added by commits in ``(start, end]``, tagged ``_commit_version``.
Because the log is immutable, ``partitions(start, end)`` is a pure
function of the range — checkpoint recovery replays any batch exactly
(the replayability contract Structured Streaming requires of a
source). Layout-only commits (``txn_optimize``, dataChange=false)
are skipped: they re-add rows that already streamed through an
earlier version.

Scale shape: the driver only folds log metadata (versions → file
lists); every InputPartition is ONE parquet file read executor-side
via pyarrow. A commit that added 10k files becomes 10k parallel
tasks, and the bytes never touch the driver. Vacuuming a version the
stream has not consumed yet raises on replay — the same retention
contract as Delta CDF.

Options: ``path`` (table root, required), ``startingVersion``
(default 0 = replay from table start; N = first batch begins at
commit N+1; ``"latest"`` = only commits after stream start — the
right entry point for a table whose history has been compacted and
vacuumed past retention, where a from-0 replay would hit removed
files), ``readChangeFeed`` (``true`` = Delta's CDF-as-a-stream: the
schema gains ``_change_type`` and each micro-batch also emits the
rows a commit vectored OUT of pre-existing files — ``delete`` rows
and ``update_preimage``/``update_postimage`` pairs — recovered
executor-side by keeping exactly the sidecar positions of the still
on-disk original file; insert-only consumers just omit the option).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .. import txnlog as TL
from ..operators.merge import _local_root

_ARROW_TO_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "bool": "boolean",
    "string": "string",
    "large_string": "string",
    "binary": "binary",
    "large_binary": "binary",
    "date32[day]": "date",
}


def _truthy(v) -> bool:
    return str(v).lower() in ("true", "1", "yes")


def _sniff_ddl(table_root: str) -> str:
    """Schema of the newest committed file (+ hive partition cols as
    string + the ``_commit_version`` tag). Pass an explicit
    ``.schema(...)`` for exotic types or typed partition columns."""
    import pyarrow.parquet as pq

    _, files = TL.snapshot(table_root)
    if not files:
        raise ValueError(
            f"{table_root}: empty table; pass an explicit schema"
        )
    rel = sorted(files)[-1]
    root = _local_root(table_root)
    sch = pq.ParquetFile(os.path.join(root, rel)).schema_arrow
    parts = []
    for field in sch:
        t = str(field.type)
        if t.startswith("timestamp"):
            ddl = "timestamp"
        elif t.startswith("decimal"):
            ddl = t
        else:
            ddl = _ARROW_TO_DDL.get(t)
        if ddl is None:
            raise ValueError(
                f"cannot map arrow type {t} for column {field.name}; "
                "pass an explicit schema"
            )
        parts.append(f"{field.name} {ddl}")
    for pc in TL._partition_cols_of([rel]):
        parts.append(f"{pc} string")
    parts.append("_commit_version bigint")
    return ", ".join(parts)


class TxnTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txn_table"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("txn_table requires .option('path', ...)")
        ddl = _sniff_ddl(path)
        if _truthy(self.options.get(
            "readChangeFeed", self.options.get("readchangefeed")
        )):
            ddl += ", _change_type string"
        return ddl

    def streamReader(self, schema) -> "TxnTableStreamReader":
        return TxnTableStreamReader(self.options, schema)

    def reader(self, schema):
        raise NotImplementedError(
            "batch reads go through txnlog.txn_read (native parquet scan "
            "with data skipping); this format is the STREAMING leg"
        )


class TxnTableStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("txn_table requires .option('path', ...)")
        self.root = _local_root(self.path)
        sv = options.get(
            "startingVersion", options.get("startingversion", "0")
        )
        if str(sv).lower() == "latest":
            self.start_v = TL.latest_version(self.path)
        else:
            self.start_v = int(sv)
        mfb = options.get(
            "maxFilesPerBatch", options.get("maxfilesperbatch")
        )
        self.max_files = int(mfb) if mfb is not None else None
        self.cdf = _truthy(
            options.get("readChangeFeed", options.get("readchangefeed"))
        )
        self._last_v: int | None = None
        self.schema = schema
        self.cols = [f.name for f in schema.fields]

    def initialOffset(self) -> dict:
        return {"v": self.start_v}

    def latestOffset(self) -> dict:
        head = TL.latest_version(self.path)
        if self.max_files is None:
            return {"v": head}
        # admission control (Delta's maxFilesPerTrigger): advance at
        # most ~max_files of added data files per micro-batch so a
        # long backlog drains as bounded batches instead of one giant
        # one. The python DataSourceStreamReader API gives latestOffset
        # no view of the checkpointed offset, so the FIRST call of a
        # (re)started reader is unpaced (returns head — availableNow
        # drains fully, restarts never stall below the committed
        # offset); pacing applies from the second trigger on.
        if self._last_v is None:
            self._last_v = head
            return {"v": head}
        base = max(self._last_v, self.start_v)
        v, budget = base, self.max_files
        while v < head:
            c = TL._read_commit(self.path, v + 1)
            n = len(c["adds"]) if c.get("data_change", True) else 0
            if n > budget and v > base:
                break
            budget -= n
            v += 1
            if budget <= 0:
                break
        self._last_v = v
        return {"v": v}

    def partitions(self, start: dict, end: dict):
        out = []
        for v in range(start["v"] + 1, end["v"] + 1):
            c = TL._read_commit(self.path, v)
            if not c.get("data_change", True):
                continue  # layout-only: rows already streamed
            # a restore commit reinstates deletion vectors on its own
            # adds — those positions are NOT live and must not stream
            own_dv = {
                f: [x["dv"] for x in (e if isinstance(e, list) else [e])]
                for f, e in (c.get("deletes") or {}).items()
            }
            add_type = (
                "update_postimage" if c["op"] == "update" else "insert"
            )
            for rel in c["adds"]:
                out.append(
                    InputPartition(
                        (v, rel, own_dv.get(rel, []), add_type, False)
                    )
                )
            if self.cdf:
                # change-feed mode also emits the rows a commit
                # vectored OUT of pre-existing files (deletes /
                # update before-images): same file read, but KEEPING
                # only the sidecar positions
                pre_type = (
                    "update_preimage" if c["op"] == "update" else "delete"
                )
                for rel, dirs in own_dv.items():
                    if rel not in c["adds"]:
                        out.append(
                            InputPartition((v, rel, dirs, pre_type, True))
                        )
                if c["op"] == "overwrite" and c["removes"]:
                    # replaceWhere retracts whole files: their LIVE
                    # rows (minus pre-existing vectors) stream as
                    # deletes — mirror of txn_changes' batch contract
                    _, _, dv_prev = TL._fold(self.path, v - 1)
                    for rel in c["removes"]:
                        dirs = [e["dv"] for e in dv_prev.get(rel, [])]
                        out.append(
                            InputPartition((v, rel, dirs, "delete", False))
                        )
        # pyspark substitutes [None] for an empty plan; read(None) must
        # still work (a range of optimize-only commits is legal)
        return out or [InputPartition(None)]

    def read(self, partition):
        """One data file → one Arrow RecordBatch (zero per-row Python):
        pyarrow reads the file, reinstated-vector positions filter out
        with a boolean mask, hive partition values and the commit tag
        broadcast as constant columns, and every column CASTS to the
        declared Spark type via its arrow equivalent — timestamps
        relabel as UTC instants (instant-preserving regardless of the
        session timezone, which per-row datetime tuples are not)."""
        if partition.value is None:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        v, rel, dv_dirs, ctype, keep_dead = partition.value
        dead: set[int] = set()
        for d in dv_dirs:
            sidecar = pq.read_table(
                os.path.join(self.root, d), columns=["file", "pos"]
            )
            files = sidecar.column("file").to_pylist()
            poss = sidecar.column("pos").to_pylist()
            dead.update(p for f, p in zip(files, poss) if f == rel)
        tbl = pq.read_table(os.path.join(self.root, rel))
        if keep_dead:
            # before-image partition: emit ONLY the vectored positions
            tbl = tbl.filter(
                pa.array(i in dead for i in range(tbl.num_rows))
            )
        elif dead:
            tbl = tbl.filter(
                pa.array(i not in dead for i in range(tbl.num_rows))
            )
        # hive-encoded partition values live in the dir name, not the file
        part_vals = TL._hive_parts(rel)
        n = tbl.num_rows
        arrays = []
        for f in self.schema.fields:
            at = to_arrow_type(f.dataType)
            if f.name == "_commit_version":
                col = pa.array([v] * n, type=at)
            elif f.name == "_change_type" and self.cdf:
                col = pa.array([ctype] * n, type=at)
            elif f.name in tbl.schema.names:
                src = tbl.column(f.name).combine_chunks()
                if src.type.equals(at):
                    col = src
                elif pa.types.is_timestamp(src.type):
                    # parquet values are UTC instants; relabel, don't
                    # shift (naive -> tz-aware cast in arrow relabels)
                    col = src.cast(pa.timestamp(src.type.unit, "UTC")).cast(at)
                else:
                    col = src.cast(at)
            elif f.name in part_vals:
                col = pa.array([part_vals[f.name]] * n).cast(at)
            else:
                col = pa.nulls(n, type=at)
            arrays.append(col)
        yield pa.RecordBatch.from_arrays(arrays, self.cols)

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the stream checkpoint


def register(spark) -> None:
    """Idempotent registration of the txn_table streaming format."""
    spark.dataSource.register(TxnTableDataSource)
