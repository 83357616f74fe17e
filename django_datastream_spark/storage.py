"""Physical table layout (SURVEY.md §1.3 / FIXTURES.md B1).

Four tables under a root directory, each on its own transactional
commit log (:mod:`.txnlog`, ``<root>/<table>_txn``):

- ``streams``        — metadata, stored as row versions (``_v``
                       monotone, ``_deleted`` tombstone). Every upsert is
                       a blind append commit; reads resolve the latest
                       version per stream_id — MERGE semantics without
                       ever collecting or rewriting the table on the
                       driver. Compaction collapses the log to its live
                       rows in one snapshot-isolated ``overwrite`` commit.
- ``points_raw``     — appends at each stream's highest granularity,
                       partitioned by ``p_date`` (UTC day of ts) so range
                       scans prune partitions.
- ``points_derived`` — materialized datapoints of derived streams,
                       append-only with ``seq`` as the row version:
                       re-derived slots (e.g. a `sum` slot that grows as
                       a lagging source arrives) are re-appended and the
                       highest ``seq`` wins at read time. Vacuum compacts
                       superseded versions away.
- ``points_agg``     — downsampled buckets for all coarser granularities,
                       partitioned by ``(granularity, p_date)``; upserts
                       that replace existing buckets rebuild only the
                       affected partitions.

Every append is an ACID, auto-rebasing commit; a rewrite (conflicted
aggregate upsert, derived backfill with ``replace=True``, vacuum's
derived compaction, registry compaction) is ONE snapshot-isolated
``overwrite`` commit that raises ``txnlog.CommitConflictError`` rather
than lose a rival's rows; point-table compaction is ``txn_optimize``;
dead-stream rows die by deletion vectors; and time travel runs over
commit versions. Readers keep the snapshot they planned against until
``txn_vacuum`` (or, for the registry, the next compaction) reclaims
superseded files.

All aggregate columns are *algebraic carriers* (sum, count, sum_squares,
t_sum_epoch, frequencies) plus their finished presentation values, so a
coarser granularity can be computed by merging the next-finer aggregates
without rescanning raw data — the property that makes the downsample
cascade O(raw + Σ aggregates) instead of O(6 × raw) at 100 TB.

STORAGE-REACH BOUNDARY: the commit log is FileIO-seam-routed and its
commit CAS is object-store-capable (txnlog's ``_root``/``_store``), so
every table can sit on an object store. The flock'd external-catalog
RMW remains POSIX-rooted — pure metadata, kB-scale: a mount or local
disk serves it. Documented here so the boundary is a stated contract,
not an accident of ``os.`` calls.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import txnlog as TL
from .operators.merge import delete_rel_files


def local_rows_df(spark: SparkSession, data, schema) -> DataFrame:
    """Bounded driver-side rows -> DataFrame via pandas/Arrow.

    ``createDataFrame(list, ...)`` builds a pickled Python RDD
    (``Scan ExistingRDD``): every job that evaluates it — above all
    every WRITE that includes one, even as a broadcast join input —
    pays a Python-worker round trip per task (~5 s/write measured in
    this container vs 0.2 s without). Routing through pandas turns the
    same rows into an Arrow ``LocalTableScan``: plan-inlined, JVM-only,
    broadcastable for free. Every metadata-bounded frame the engine
    writes or joins against goes through here; unbounded data NEVER
    should (this materializes ``data`` on the driver by definition).
    """
    import pandas as pd

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    cols = [f.name for f in schema.fields]
    if data and isinstance(data[0], dict):
        cells = [[r.get(c) for c in cols] for r in data]
    else:
        cells = [list(r) for r in data]
    pdf = pd.DataFrame(cells if cells else None, columns=cols, dtype=object)
    # ONE partition, always (r12, guide §2: derive partitioning from input
    # size): Arrow createDataFrame slices any pandas frame into
    # defaultParallelism chunks, so a 400-row metadata batch became 32
    # near-empty partitions — and every write that included one (txn_append
    # of an ingest batch, a streams-log upsert) ran a 32-task job emitting
    # dozens of near-empty files (measured: one engine append staged 60
    # files for 372 rows; q182). These frames are bounded driver-side
    # metadata BY CONTRACT, so one partition is right at any scale; the two
    # call sites that fan a bounded list out for distributed work
    # (collect_file_stats / bloom build) already repartition explicitly.
    return spark.createDataFrame(pdf, schema).coalesce(1)

STREAMS_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("value_type", T.StringType()),
        T.StructField("highest_granularity", T.StringType()),
        T.StructField("value_downsamplers", T.ArrayType(T.StringType())),
        T.StructField("time_downsamplers", T.ArrayType(T.StringType())),
        T.StructField("derived_from", T.ArrayType(T.StringType())),
        T.StructField("derive_op", T.StringType()),
        T.StructField("derive_args", T.StringType()),  # json
        T.StructField("tags", T.StringType()),  # json
        # type-preserving flattened tags: dotted path -> compact canonical
        # JSON of the value, so `true` vs `"true"` and `[1,2]` vs `"[1, 2]"`
        # stay distinct — exact JVM-side tag matching (map lookup, no JSON
        # re-parse per row)
        T.StructField("tags_flat", T.MapType(T.StringType(), T.StringType())),
        T.StructField("earliest_ts", T.TimestampType()),
        T.StructField("latest_ts", T.TimestampType()),
        # per-granularity FINALITY watermark: buckets starting before this
        # are final (never recomputed); clamped to the stream's own data
        T.StructField(
            "downsampled_until", T.MapType(T.StringType(), T.TimestampType())
        ),
    ]
)

#: streams log = streams row + version/tombstone columns
STREAMS_LOG_SCHEMA = T.StructType(
    list(STREAMS_SCHEMA.fields)
    + [T.StructField("_v", T.LongType()), T.StructField("_deleted", T.BooleanType())]
)

GRAPH_TYPE = T.StructType(
    [
        T.StructField(
            "v",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("i", T.StringType()),
                        # arbitrary extra vertex properties, canonical json
                        T.StructField("props", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "e",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("f", T.StringType()),
                        T.StructField("t", T.StringType()),
                        T.StructField("props", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

POINTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        # insertion sequence — total order for ties when check_timestamp is
        # off (the reference gets this from MongoDB ObjectId creation order)
        T.StructField("seq", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("value_nominal", T.StringType()),  # canonical json
        T.StructField("value_graph", GRAPH_TYPE),
    ]
)

#: materialized derived datapoints; seq doubles as the row version
POINTS_DERIVED_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

V_TYPE = T.StructType(
    [
        T.StructField("mean", T.DoubleType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
        T.StructField("sum_squares", T.DoubleType()),
        T.StructField("std_dev", T.DoubleType()),
        T.StructField("count", T.LongType()),
        T.StructField("frequencies", T.MapType(T.StringType(), T.LongType())),
        T.StructField("most_often", T.StringType()),
        T.StructField("least_often", T.StringType()),
    ]
)

T_TYPE = T.StructType(
    [
        T.StructField("first", T.TimestampType()),
        T.StructField("last", T.TimestampType()),
        T.StructField("mean", T.TimestampType()),
    ]
)

POINTS_AGG_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("granularity", T.StringType()),
        T.StructField("bucket_ts", T.TimestampType()),
        T.StructField("v", V_TYPE),
        T.StructField("t", T_TYPE),
        # algebraic carrier: exact sum of epoch-seconds, for merging t.mean
        T.StructField("t_sum_epoch", T.LongType()),
    ]
)

#: points_raw as read back: the stored columns plus the p_date partition
_RAW_READ_SCHEMA = T.StructType(
    list(POINTS_RAW_SCHEMA.fields) + [T.StructField("p_date", T.DateType())]
)

#: every table (each on its own commit log) -> partition columns
_TABLES = {
    "streams": [],
    "points_raw": ["p_date"],
    "points_derived": ["p_date"],
    "points_agg": ["granularity", "p_date"],
}

#: compact the streams registry once its snapshot holds more than this
#: many live files — keeps metadata reads O(live streams) under
#: continuous ingest (each micro-batch upserts 1–3 small files)
_STREAMS_COMPACT_AT = 48


class Tables:
    """Parquet-backed storage for one engine instance.

    Every table is a commit-log table: writers of any number commit
    concurrently (appends rebase, conflicting rewrites raise
    ``txnlog.CommitConflictError``) and readers are snapshot-isolated.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._v_counter = 0
        # a store written by the retired pointer-swap parquet layout
        # would otherwise read as EMPTY: refuse it loudly instead
        for table in _TABLES:
            plain = os.path.join(root, table)
            if (
                os.path.isdir(plain)
                and any(
                    n == "_CURRENT" or n.startswith("v=")
                    for n in os.listdir(plain)
                )
                and not TL.is_txn_table(self._table_root(table))
            ):
                raise ValueError(
                    f"{plain} holds a plain versioned-parquet table; "
                    f"tables are read only from their commit log "
                    f"({self._table_root(table)}) — re-ingest it"
                )

    # -- time travel ---------------------------------------------------------
    def snapshot_versions(self, table: str) -> list[int]:
        """Readable COMMIT versions of ``table``, oldest first — every
        append, upsert, optimize, delete or compaction — minus those
        whose files ``vacuum`` (or, for the streams registry, a later
        compaction) has reclaimed."""
        return TL.readable_versions(self._table_root(table))

    def read_table_at(self, table: str, version: int) -> DataFrame:
        """Read ``table`` as-of ``version`` (raw stored rows — for the
        streams table that is the metadata log state at that commit).
        Raises ``ValueError`` if the version was never committed or
        its files were reclaimed."""
        have = self.snapshot_versions(table)
        if version not in have:
            raise ValueError(
                f"{table} v{version} not in log (readable: {have})"
            )
        if table == "streams":
            return self.read_streams_log(version)
        return TL.txn_read(
            self.spark, self._table_root(table), version=version
        )

    # -- paths ---------------------------------------------------------------
    def _table_root(self, table: str) -> str:
        # a commit-log table's root is FIXED: versioning lives in the log
        return os.path.join(self.root, f"{table}_txn")

    @property
    def streams_path(self) -> str:
        return self._table_root("streams")

    @property
    def points_raw_path(self) -> str:
        return self._table_root("points_raw")

    @property
    def points_derived_path(self) -> str:
        return self._table_root("points_derived")

    @property
    def points_agg_path(self) -> str:
        return self._table_root("points_agg")

    # -- external-table catalog (lakehouse interop by NAME) -----------
    @property
    def external_catalog_path(self) -> str:
        return os.path.join(self.root, "external_tables.json")

    def read_external_catalog(self) -> dict:
        """name → {path, format} for every registered external table
        (empty when none). One small JSON object, atomic-replaced —
        the catalog is engine metadata, not a data table."""
        import json as _json

        try:
            with open(self.external_catalog_path, encoding="utf-8") as f:
                return _json.load(f)
        except FileNotFoundError:
            return {}

    def write_external_catalog(self, catalog: dict) -> None:
        import json as _json
        import uuid as _uuid

        tmp = self.external_catalog_path + f".tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            _json.dump(catalog, f, indent=1, sort_keys=True)
        os.replace(tmp, self.external_catalog_path)

    def mutate_external_catalog(self, fn) -> dict:
        """Atomic read-modify-write of the catalog under an exclusive
        flock — os.replace alone prevents torn writes, not LOST
        UPDATES (two concurrent registrations would last-writer-win).
        ``fn`` receives the current dict and returns the new one."""
        import fcntl

        lock = self.external_catalog_path + ".lock"
        with open(lock, "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                cat = fn(self.read_external_catalog())
                self.write_external_catalog(cat)
                return cat
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _next_v(self) -> int:
        self._v_counter = max(self._v_counter + 1, time.time_ns())
        return self._v_counter

    def bump_v(self, v: int) -> None:
        """Reserve the version/seq range up to ``v`` — callers that hand
        out ``base + row_number`` seqs bump past their batch so the next
        base can never overlap it, even if the clock stalls."""
        self._v_counter = max(self._v_counter, v)

    # -- streams metadata (MERGE-style log) ----------------------------------
    def read_streams_log(self, version: int | None = None) -> DataFrame:
        root = self.streams_path
        if not TL.is_txn_table(root):
            return local_rows_df(self.spark, [], STREAMS_LOG_SCHEMA)
        return TL.txn_read(
            self.spark, root, schema=STREAMS_LOG_SCHEMA, version=version
        )

    def _live_log(self, version: int | None = None) -> DataFrame:
        """The winning log row per stream_id (latest ``_v``), tombstones
        out, still in STREAMS_LOG_SCHEMA shape."""
        w = Window.partitionBy("stream_id").orderBy(F.col("_v").desc())
        return (
            self.read_streams_log(version)
            .withColumn("_rk", F.row_number().over(w))
            .filter((F.col("_rk") == 1) & ~F.coalesce("_deleted", F.lit(False)))
            .drop("_rk")
        )

    def read_streams(self) -> DataFrame:
        """Live stream rows: latest version per stream_id, tombstones out."""
        return self._live_log().drop("_v", "_deleted")

    def upsert_streams(self, rows: list[dict]) -> None:
        """MERGE: append new row versions (full rows; latest _v wins).
        O(changed rows), never a table rewrite or driver collect."""
        if not rows:
            return
        v = self._next_v()
        out = []
        for r in rows:
            r = dict(r)
            r["_v"] = v
            r.setdefault("_deleted", False)
            out.append(r)
        self._append_streams(local_rows_df(self.spark, out, STREAMS_LOG_SCHEMA))

    def upsert_streams_df(self, df: DataFrame) -> None:
        """MERGE from a DataFrame in STREAMS_SCHEMA shape — appends new row
        versions without any driver materialization."""
        v = self._next_v()
        self._append_streams(
            df.select(*[f.name for f in STREAMS_SCHEMA.fields])
            .withColumn("_v", F.lit(v))
            .withColumn("_deleted", F.lit(False))
        )

    def _append_streams(self, df: DataFrame) -> None:
        """Land registry row versions as one blind append commit (always
        rebases, never conflicts), then compact once the snapshot holds
        more than ``_STREAMS_COMPACT_AT`` live files — amortized
        O(live streams) every N upserts; without it every metadata read
        window-scans a log that grows with uptime. The commit records
        no per-file stats: each file spans a batch's random stream ids,
        so stats could prune nothing, and they would cost log bytes on
        every upsert."""
        root = self.streams_path
        TL.init_table(root)
        adds = TL.stage_files(
            self.spark, df.coalesce(1), root, [], uuid.uuid4().hex[:12]
        )
        TL.commit(
            root,
            adds,
            [],
            "append",
            [],
            base_version=TL.latest_version(root),
            writer="streams",
            stats={},
        )
        if len(TL.snapshot(root)[1]) > _STREAMS_COMPACT_AT:
            try:
                self.compact_streams()
            except TL.CommitConflictError:
                # a rival upsert landed first: no row is lost, and the
                # next upsert retries the compaction
                pass

    def delete_streams_rows(self, stream_ids: list[str]) -> None:
        """Tombstone the given streams (latest version = deleted)."""
        self.upsert_streams(
            [{"stream_id": sid, "_deleted": True} for sid in stream_ids]
        )

    def compact_streams(self) -> None:
        """Collapse the registry to its live rows as ONE snapshot-isolated
        ``overwrite`` commit against the snapshot it read. A rival
        upsert landing in between makes it raise
        ``txnlog.CommitConflictError`` — no row is lost; re-run it.
        Pure DataFrame rewrite: compaction never materializes stream
        metadata on the driver and scales to millions of streams. Live
        rows keep their own ``_v``, so an upsert whose version was drawn
        before this commit but lands after it still wins.

        Disk stays bounded at two generations: once the commit lands,
        the files the PREVIOUS compaction commit removed are deleted
        (names taken from that commit, so no writer's staged in-flight
        file can be hit); readers planned since then stay safe."""
        base_ver, committed = self._snapshot("streams")
        if not committed:
            return
        root = self.streams_path
        live = self._live_log(base_ver).coalesce(1)
        self._rewrite_partitions(
            "streams", base_ver, committed, live, None, "streams_compact"
        )
        for v in range(base_ver, TL.fold_horizon(root) - 1, -1):
            prev = TL._read_commit(root, v)
            if prev["op"] == "overwrite":
                delete_rel_files(root, prev["removes"])
                break

    # -- point tables (commit log) ---------------------------------------------
    def _read_points(
        self, table: str, schema: T.StructType, version: int | None = None
    ) -> DataFrame:
        """A point table's snapshot at ``version`` (default latest) as
        ``schema``'s columns; an empty local frame before its first
        commit."""
        root = self._table_root(table)
        if not TL.is_txn_table(root):
            return local_rows_df(self.spark, [], schema)
        return TL.txn_read(self.spark, root, version=version).select(
            *schema.fieldNames()
        )

    def _append_points(self, table: str, df: DataFrame, writer: str) -> None:
        TL.txn_append(
            self.spark,
            df,
            self._table_root(table),
            _TABLES[table],
            writer=writer,
        )

    def _rewrite_partitions(
        self,
        table: str,
        base_ver: int,
        committed: set[str],
        rows: DataFrame,
        touched: list | None,
        writer: str,
    ) -> None:
        """Land ``rows`` as the complete new content of the ``touched``
        partitions (rows carrying the partition columns; None = every
        partition) in ONE snapshot-isolated ``overwrite`` commit
        against ``base_ver``: the partitions' ``committed`` files are
        removed and ``rows`` — which may also hold rows for other
        partitions — staged once. A touched partition ``rows`` leaves
        empty is vacated. Readers keep the snapshot they planned
        against (superseded files stay until ``txn_vacuum``); a rival
        commit in the same partitions since ``base_ver`` makes this
        raise ``txnlog.CommitConflictError`` and the caller re-runs."""
        root = self._table_root(table)
        parts = _TABLES[table]
        if touched is None:
            removes = sorted(committed)
        else:
            dirs = {
                os.path.join(*(f"{c}={r[c]}" for c in parts)) for r in touched
            }
            removes = sorted(
                f for f in committed if os.path.dirname(f) in dirs
            )
        adds = TL.stage_files(
            self.spark, rows, root, parts, uuid.uuid4().hex[:12]
        )
        try:
            TL.commit(
                root,
                adds,
                removes,
                "overwrite",
                [],
                base_version=base_ver,
                writer=writer,
                # the registry records no stats (see _append_streams)
                stats=(
                    {}
                    if table == "streams"
                    else TL.collect_file_stats(root, adds, spark=self.spark)
                ),
            )
        except TL.CommitConflictError:
            # never committed, so no reader can see them: drop the
            # staged files now instead of leaving them to txn_vacuum
            delete_rel_files(root, adds)
            raise

    def _snapshot(self, table: str) -> tuple[int, set[str]]:
        root = self._table_root(table)
        return TL.snapshot(root) if TL.is_txn_table(root) else (0, set())

    # -- raw points ------------------------------------------------------------
    def read_points_raw(self) -> DataFrame:
        return self._read_points("points_raw", _RAW_READ_SCHEMA)

    def append_points_raw(self, df: DataFrame) -> None:
        self._append_points(
            "points_raw", df.withColumn("p_date", F.to_date("ts")), "ingest"
        )

    def compact_points_raw(
        self, target_file_bytes: int = 128 * 1024 * 1024
    ) -> int:
        """OPTIMIZE-style small-file compaction as one ``optimize``
        commit (``txnlog.txn_optimize``): files under
        ``target_file_bytes`` are rewritten per p_date partition at
        ~``target_file_bytes`` apiece. Commutes with concurrent
        appends; superseded files stay for snapshot readers until
        vacuum. Returns the number of files rewritten."""
        root = self.points_raw_path
        if not TL.is_txn_table(root):
            return 0
        res = TL.txn_optimize(
            self.spark, root, target_file_bytes=target_file_bytes
        )
        return int(res.get("rewritten_files") or 0)

    # -- derived points (versioned by seq) --------------------------------------
    def read_points_derived(self, latest_only: bool = True) -> DataFrame:
        df = self._read_points("points_derived", POINTS_DERIVED_SCHEMA)
        return _latest_seq(df) if latest_only else df

    def append_points_derived(self, df: DataFrame) -> None:
        self._append_points(
            "points_derived", _stored(df, POINTS_DERIVED_SCHEMA, "ts"), "derive"
        )

    def replace_points_derived(
        self, stream_ids: list[str], df: DataFrame
    ) -> None:
        """RETRACTING upsert for a derived-stream backfill: drop EVERY
        stored version of the given streams' points and land ``df`` as
        the only copy — the repair for ghost rows that latest-seq-wins
        cannot remove (a recompute that no longer emits a formerly
        materialized (stream_id, ts) key; see
        api.backprocess_streams). Partition-scoped: only p_date
        partitions where the target streams have old or new rows are
        rebuilt (other streams' rows kept verbatim), in one overwrite
        commit."""
        df = _stored(df, POINTS_DERIVED_SCHEMA, "ts").localCheckpoint(
            eager=True  # bounded by the backfill
        )
        base_ver, committed = self._snapshot("points_derived")
        if not committed:
            self.append_points_derived(df)
            return
        sid_df = F.broadcast(
            local_rows_df(
                self.spark, [(s,) for s in stream_ids], "stream_id string"
            )
        )
        existing = TL.txn_read(
            self.spark, self.points_derived_path, version=base_ver
        ).select(df.columns)
        touched = (
            existing.join(sid_df, "stream_id", "left_semi")
            .select("p_date")
            .unionByName(df.select("p_date"))
            .distinct()
            .collect()  # metadata: bounded by touched-partition count
        )
        if not touched:
            return
        tdf = F.broadcast(
            local_rows_df(
                self.spark, [(r["p_date"],) for r in touched], "p_date date"
            )
        )
        keep = existing.join(tdf, "p_date", "left_semi").join(
            sid_df, "stream_id", "left_anti"
        )
        self._rewrite_partitions(
            "points_derived",
            base_ver,
            committed,
            keep.unionByName(df),
            touched,
            "derive_replace",
        )

    # -- aggregates --------------------------------------------------------------
    def read_points_agg(self) -> DataFrame:
        return self._read_points("points_agg", POINTS_AGG_SCHEMA)

    def append_points_agg(self, df: DataFrame) -> None:
        self._append_points(
            "points_agg", _stored(df, POINTS_AGG_SCHEMA, "bucket_ts"), "agg"
        )

    def upsert_points_agg(self, df: DataFrame) -> None:
        """Upsert on (stream_id, granularity, bucket_ts):

        1. the incoming batch is pinned (localCheckpoint — bounded by the
           batch, not by partition contents),
        2. touched partitions are probed for key collisions (one semi-join
           over the partition-pruned scan; the collided partition LIST is
           collected — metadata bounded by touched-partition count),
        3. no collision: the batch is a blind append commit; otherwise the
           conflicted (granularity, p_date) partitions are rebuilt and
           land together with the batch's fresh rows as ONE
           snapshot-isolated ``overwrite`` commit.

        Under steady auto_downsample most batches only append fresh
        buckets + recompute the watermark-tail bucket, so per-batch
        rewrite volume is the conflicted tail partitions, not every
        partition the batch touches."""
        df = _stored(df, POINTS_AGG_SCHEMA, "bucket_ts").localCheckpoint(
            eager=True
        )
        base_ver, committed = self._snapshot("points_agg")
        if not committed:
            self.append_points_agg(df)
            return
        parts = _TABLES["points_agg"]
        key = ["stream_id", "granularity", "bucket_ts"]
        existing = TL.txn_read(
            self.spark, self.points_agg_path, version=base_ver
        ).select(df.columns)
        conflicts = (
            existing.join(
                F.broadcast(df.select(*parts).distinct()), parts, "left_semi"
            )
            .join(F.broadcast(df.select(*key)), key, "left_semi")
            .select(*parts)
            .distinct()
            .collect()  # metadata: bounded by touched-partition count
        )
        if not conflicts:
            self.append_points_agg(df)
            return
        cdf = local_rows_df(
            self.spark,
            [(r["granularity"], r["p_date"]) for r in conflicts],
            "granularity string, p_date date",
        )
        keep = existing.join(F.broadcast(cdf), parts, "left_semi").join(
            df.select(*key), key, "left_anti"
        )
        self._rewrite_partitions(
            "points_agg",
            base_ver,
            committed,
            keep.unionByName(df),
            conflicts,
            "agg_upsert",
        )

    # -- maintenance -------------------------------------------------------------
    def vacuum_points(self, live: DataFrame) -> None:
        """Drop the rows of streams not in ``live`` (one ``stream_id``
        column) from every point table, compact superseded derived
        versions, and reclaim files no longer in the latest snapshot.
        Raw and aggregate rows of dead streams die by DELETION VECTORS
        (one ``delete`` commit each, no partition rewrite; the dead id
        list is bounded by stream count); derived points keep only the
        winning ``seq`` per (stream, ts) through one ``overwrite``
        commit. ``txn_vacuum`` then removes every superseded file, so
        versions older than the new head stop being readable."""
        for table, read in (
            ("points_raw", self.read_points_raw),
            ("points_agg", self.read_points_agg),
        ):
            root = self._table_root(table)
            if not TL.is_txn_table(root):
                continue
            dead = [
                r["stream_id"]
                for r in read()
                .select("stream_id")
                .distinct()
                .join(live, "stream_id", "left_anti")
                .collect()
            ]
            if dead:
                TL.txn_delete(
                    self.spark,
                    root,
                    F.col("stream_id").isin(dead),
                    writer="vacuum",
                )
            TL.txn_vacuum(root)
        base_ver, committed = self._snapshot("points_derived")
        if committed:
            kept = _latest_seq(
                self._read_points(
                    "points_derived", POINTS_DERIVED_SCHEMA, base_ver
                )
            ).join(live, "stream_id", "left_semi")
            self._rewrite_partitions(
                "points_derived",
                base_ver,
                committed,
                _stored(kept, POINTS_DERIVED_SCHEMA, "ts"),
                None,
                "vacuum",
            )
            TL.txn_vacuum(self.points_derived_path)


def _latest_seq(df: DataFrame) -> DataFrame:
    """Derived points with only the winning (highest) seq per key."""
    w = Window.partitionBy("stream_id", "ts").orderBy(F.col("seq").desc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def _stored(df: DataFrame, schema: T.StructType, ts_col: str) -> DataFrame:
    """``df`` in a point table's stored shape: ``schema``'s columns plus
    the p_date partition (UTC day of ``ts_col``)."""
    return df.select(*schema.fieldNames()).withColumn(
        "p_date", F.to_date(ts_col)
    )
