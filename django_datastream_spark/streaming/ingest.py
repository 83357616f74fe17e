"""Structured Streaming ingest + continuous downsample (SURVEY §2.8, §3.2).

Reference behavior being reproduced:

- T1: ``append(check_timestamp=True)`` rejects non-monotonic timestamps.
  A stream can't raise per-record, so the streaming form VALIDATES in
  ``foreachBatch`` and routes violations to a quarantine table (exactly
  the rows the batch API would have raised on — Q27's predicate).
- T3: completed-bucket rule — the streaming downsample emits a bucket
  only once the watermark passes its end (append output mode).
- T4: incremental state — per-stream ``latest_ts`` is carried in the
  streams metadata table and merged per micro-batch; bucket state lives
  in the Structured Streaming state store. ALL derive operators are
  materialized incrementally: the lag family (derivative/counter_*)
  appends new points, and ``sum`` re-derives exactly the slots the batch
  touches (a lagging source updates an existing slot), with the winning
  version resolved by ``seq`` in points_derived.

Scale notes: every micro-batch is one validation join (broadcast of the
small latest_ts dim — a JOIN, never a literal IN-list, so a million
streams don't become a million-term expression tree) + one partitioned
append; driver-side collects are bounded by the batch or by the
derived-stream count, never by the streams table.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import storage
from ..api import Datastream
from ..granularity import BY_NAME

INGEST_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("value_nominal", T.StringType()),
    ]
)


def _bucket_by_name(gname, ts) -> object:
    """Bucket-floor ``ts`` under the granularity NAMED by a column —
    a CASE over the (fixed, six-entry) granularity ladder, so the
    per-granularity finality rollback can run inside a map-typed
    column expression (transform_values) with no driver lookup."""
    expr = F.lit(None).cast("timestamp")
    for g in BY_NAME.values():
        expr = F.when(gname == g.name, g.bucket_col(ts)).otherwise(expr)
    return expr


def _batch_seq_col(base: int, tiebreak: tuple[str, ...] = ()) -> object:
    """Insertion sequence for one micro-batch: a driver-supplied monotone
    base + row_number PER STREAM (ordered by ts, then ``tiebreak``
    columns). seq only has to be unique and time-ordered within a
    stream — get_data orders by (ts, seq) per stream and points_derived
    resolves versions per (stream_id, ts) — so partitioning the window by
    stream_id keeps the assignment parallel (hash exchange, no
    single-partition global sort: the serialization point the old
    Window.orderBy created at high ingest rates). Bases come from
    Tables._next_v() (monotone counter ⊔ time_ns) and the caller bumps
    the counter past base + batch rows afterwards, so consecutive batches
    can never hand out overlapping seqs even if the clock stalls or the
    batch is huge.

    ``tiebreak`` makes replays bit-identical when equal timestamps occur
    within one batch (check_timestamp=False): ordering by the row's own
    content is deterministic for a given batch REGARDLESS of how the
    source happened to partition it, which a monotonically_increasing_id
    ordinal is not. Rows identical in every column can still swap seqs,
    but such rows are interchangeable — the stored content is the same."""
    w = Window.partitionBy("stream_id").orderBy("ts", *tiebreak)
    return F.lit(base) + F.row_number().over(w).cast("long")


class StreamingIngest:
    """File-source streaming ingest into a Datastream store.

    Producers drop JSON-lines files with (stream_id, ts, value[,
    value_nominal]) into ``source_dir``; each micro-batch validates and
    lands them. Swap the readStream source for Kafka in production — the
    foreachBatch body is source-agnostic (see ``attach``/``kafka_source``).

    Operational note: each micro-batch is one commit adding a small
    parquet file per touched p_date partition; schedule
    ``tables.compact_points_raw()`` (an OPTIMIZE commit that runs
    alongside ingest and returns the number of files it rewrote) to
    fold them back to ~128 MB files. The streams metadata log
    auto-compacts on its own.
    """

    def __init__(
        self,
        engine: Datastream,
        source_dir: str,
        checkpoint_dir: str,
        check_timestamp: bool = True,
        auto_downsample: bool = False,
    ):
        self.engine = engine
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.check_timestamp = check_timestamp
        # continuously materialize points_agg after each micro-batch;
        # cheap because downsample_streams is watermark-bounded, and safe
        # for lagging streams because bucket finality is clamped per
        # stream (api.downsample_streams) — a fast stream's timestamp can
        # no longer finalize a slow stream's still-open bucket.
        self.auto_downsample = auto_downsample
        os.makedirs(source_dir, exist_ok=True)

    @property
    def rejects_path(self) -> str:
        return os.path.join(self.engine.tables.root, "rejects")

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = self.engine.spark
        if not batch.head(1):
            return
        streams_df = self.engine._streams()
        # bounded collect: derived-stream metadata only (drives the
        # incremental derive plans); appendable streams stay a DataFrame
        derived_meta = [
            r.asDict(recursive=True)
            for r in streams_df.filter(F.col("derive_op").isNotNull()).collect()
        ]
        known = F.broadcast(
            streams_df.filter(F.col("derive_op").isNull()).select(
                "stream_id", F.col("latest_ts").alias("_latest")
            )
        ).persist()

        base_ns = self.engine.tables._next_v()
        batch = batch.withColumn(
            "seq", _batch_seq_col(base_ns, ("value", "value_nominal"))
        )
        batch = batch.withColumn(
            "value_graph",
            F.lit(None).cast(
                self.engine.tables.read_points_raw().schema["value_graph"].dataType
            ),
        )
        unknown = batch.join(known, "stream_id", "left_anti")

        if self.check_timestamp:
            w = Window.partitionBy("stream_id").orderBy("ts", "seq")
            checked = batch.join(known, "stream_id").withColumn(
                "_prev", F.lag("ts").over(w)
            )
            bad = checked.filter(
                (F.col("ts") <= F.col("_latest")) | (F.col("ts") <= F.col("_prev"))
            )
            good = checked.filter(
                ((F.col("_latest").isNull()) | (F.col("ts") > F.col("_latest")))
                & ((F.col("_prev").isNull()) | (F.col("ts") > F.col("_prev")))
            ).drop("_prev", "_latest")
            rejects = bad.drop("_prev", "_latest").unionByName(unknown)
        else:
            good = batch.join(known, "stream_id", "left_semi")
            rejects = unknown

        rej_rows = rejects.withColumn("batch_id", F.lit(batch_id))
        if rej_rows.head(1):
            rej_rows.drop("value_graph").write.mode("append").parquet(self.rejects_path)

        cols = [
            f.name
            for f in self.engine.tables.read_points_raw().schema.fields
            if f.name != "p_date"
        ]
        good = good.select(*cols)
        if not good.head(1):
            known.unpersist()
            return
        # derive state must be read BEFORE the batch is appended: tails /
        # affected slots are computed against the previous table state —
        # pin the (batch-bounded) results so the later raw append can't
        # change a lazy recompute
        derived_new = self._incremental_derive(good, derived_meta, streams_df)
        sum_new = self._incremental_sum(good, derived_meta, streams_df)
        pts = good.select("stream_id", "ts")
        for d in (derived_new, sum_new):
            if d is not None:
                d = d.localCheckpoint(eager=True)
                self.engine.tables.append_points_derived(d)
                pts = pts.unionByName(d.select("stream_id", "ts"))
        self.engine.tables.append_points_raw(good)

        # stream-metadata maintenance is a DATAFRAME PLAN, never a
        # per-stream driver loop: a micro-batch touching a million hot
        # streams merges earliest/latest/finality entirely executor-side
        # (one hash-agg + one join + one metadata-log append). The ONLY
        # rows that cross the driver are one scalar row (seq reservation
        # + the global batch frontier for auto_downsample).
        stats = (
            pts.groupBy("stream_id")
            .agg(
                F.min("ts").alias("_mn"),
                F.max("ts").alias("_mx"),
                F.count(F.lit(1)).alias("_cnt"),
            )
            # pin: reused by the scalar agg AND the metadata merge join,
            # and it must not lazily recompute against the post-append
            # table state; bounded by touched-stream count, stored on
            # executors (localCheckpoint), not the driver
            .localCheckpoint(eager=True)
        )
        scal = stats.agg(
            F.max("_cnt").alias("c"), F.max("_mx").alias("m")
        ).collect()[0]
        # reserve the seq range this batch handed out (max per-stream
        # row_number bounds every base used above)
        if scal["c"] is not None:
            self.engine.tables.bump_v(
                self.engine.tables._v_counter + scal["c"]
            )
        known.unpersist()
        merged = (
            # inner join: every id in stats is a validated known stream
            # or a derived stream materialized above, all present in the
            # metadata table. Shuffle hash join on stream_id — both
            # sides partition by the merge key, no driver involvement.
            streams_df.join(stats, "stream_id")
            .withColumn(
                "earliest_ts",
                F.least(
                    F.coalesce(F.col("earliest_ts"), F.col("_mn")),
                    F.col("_mn"),
                ),
            )
            .withColumn(
                "latest_ts",
                F.greatest(
                    F.coalesce(F.col("latest_ts"), F.col("_mx")),
                    F.col("_mx"),
                ),
            )
            # WATERMARK ROLLBACK, plan-side (mirrors api.append_multiple's
            # healing): a batch landing below an already-final bucket
            # (check_timestamp=False, or an incremental `sum` re-deriving
            # an old slot) lowers that stream's per-granularity finality
            # floor to the batch's earliest bucket, so the next
            # downsample run re-upserts those buckets instead of
            # points_agg silently diverging. `least` would SKIP nulls
            # (Spark semantics), so never-downsampled (null) entries are
            # explicitly preserved — a floor on a never-run granularity
            # would wrongly mark unseen history final.
            .withColumn(
                "downsampled_until",
                F.transform_values(
                    "downsampled_until",
                    lambda g, v: F.when(v.isNull(), v).otherwise(
                        F.least(v, _bucket_by_name(g, F.col("_mn")))
                    ),
                ),
            )
            .drop("_mn", "_mx", "_cnt")
        )
        self.engine.tables.upsert_streams_df(merged)
        if self.auto_downsample and scal["m"] is not None:
            # per-stream finality clamp inside downsample_streams makes
            # the global batch max a safe 'until' for every stream
            self.engine.downsample_streams(until=scal["m"])

    def _incremental_derive(
        self, batch: DataFrame, derived_meta: list[dict], streams_df: DataFrame
    ) -> DataFrame | None:
        """Incrementally materialize lag-family derived streams
        (derivative / counter_reset / counter_derivative): run the batch
        derive plan over (per-source tail point ∪ new points) and keep only
        outputs newer than each derived stream's latest materialized point.
        Identical plans to the batch rebuild ⇒ incremental == batch
        (FIXTURES B3.4)."""
        from ..operators import derive as derive_ops

        spark = self.engine.spark
        lag_ops = {"derivative", "counter_reset", "counter_derivative"}
        metas = [s for s in derived_meta if s["derive_op"] in lag_ops]
        if not metas:
            return None
        src_ids = sorted({sid for s in metas for sid in (s["derived_from"] or [])})
        batch_src = batch.filter(F.col("stream_id").isin(src_ids))
        if not batch_src.head(1):
            return None
        # tail: each source's last stored point (ts == latest_ts); the
        # source latest_ts dim is bounded by the derive fan-in
        tails = streams_df.filter(
            F.col("stream_id").isin(src_ids) & F.col("latest_ts").isNotNull()
        ).select("stream_id", F.col("latest_ts").alias("_lts"))
        tail_pts = (
            self.engine.tables.read_points_raw()
            .join(F.broadcast(tails), "stream_id")
            .filter(F.col("ts") == F.col("_lts"))
            .select("stream_id", "ts", "value")
        )
        source_pts = tail_pts.unionByName(batch_src.select("stream_id", "ts", "value"))
        out = derive_ops.build_derive_plan(metas, source_pts)
        if out is None:
            return None
        # suppress re-emission of the tail-to-tail deltas already stored
        latest_derived = storage.local_rows_df(
            spark,
            [
                (s["stream_id"], s["latest_ts"])
                for s in metas
                if s["latest_ts"] is not None
            ]
            or [("__none__", None)],
            "stream_id string, _dlts timestamp",
        )
        out = (
            out.join(F.broadcast(latest_derived), "stream_id", "left")
            .filter(F.col("_dlts").isNull() | (F.col("ts") > F.col("_dlts")))
            .drop("_dlts")
        )
        out = out.withColumn(
            "seq", _batch_seq_col(self.engine.tables._next_v(), ("value",))
        ).select(
            "stream_id", "ts", "seq", "value"
        )
        return out if out.head(1) else None

    def _incremental_sum(
        self, batch: DataFrame, derived_meta: list[dict], streams_df: DataFrame
    ) -> DataFrame | None:
        """Incrementally materialize `sum` derived streams.

        A sum slot is NOT append-only: slot value = Σ over all sources of
        whatever landed in that rounded slot, so a lagging source UPDATES
        an already-emitted slot. Strategy: find the (derived, slot) pairs
        this batch touches, re-derive exactly those slots from (stored ∪
        batch) source points, and append the new versions — points_derived
        resolves the winner by ``seq`` (MERGE-on-read; vacuum compacts).
        Per batch this scans a ts-range of points_raw bounded by the
        touched slots (partition-pruned), never full history."""
        from ..operators import derive as derive_ops

        sums = [s for s in derived_meta if s["derive_op"] == "sum"]
        if not sums:
            return None
        spark = self.engine.spark
        # role-filtered like build_derive_plan's mapping_df — incremental
        # and batch rebuild must agree on which sources carry data
        src_to_derived = [
            (src, s["stream_id"], s["highest_granularity"])
            for s in sums
            for src, role in derive_ops.source_roles(s)
            if role == "data"
        ]
        if not src_to_derived:
            return None
        src_ids = sorted({t[0] for t in src_to_derived})
        batch_src = batch.filter(F.col("stream_id").isin(src_ids))
        if not batch_src.head(1):
            return None
        mapping = F.broadcast(
            storage.local_rows_df(
                spark, src_to_derived, "stream_id string, derived_id string, _gran string"
            )
        )
        slot = F.coalesce(
            *[
                F.when(
                    F.col("_gran") == g.name, g.bucket_col(F.col("ts"))
                )
                for g in (BY_NAME[gr] for gr in sorted({t[2] for t in src_to_derived}))
            ]
        )
        touched = (
            batch_src.join(mapping, "stream_id")
            .select("derived_id", "_gran", slot.alias("_slot"))
            .distinct()
        )
        # ts-range bound for the stored-point scan (driver collect of one
        # row over the in-memory batch)
        rng = touched.agg(
            F.min("_slot").alias("lo"), F.max("_slot").alias("hi")
        ).collect()[0]
        hi_end = rng["hi"] + _max_slot_width(sums)
        stored_src = (
            self.engine.tables.read_points_raw()
            .filter((F.col("ts") >= F.lit(rng["lo"])) & (F.col("ts") < F.lit(hi_end)))
            .select("stream_id", "ts", "value")
        )
        all_src = stored_src.unionByName(batch_src.select("stream_id", "ts", "value"))
        slotted = (
            all_src.join(mapping, "stream_id")
            .select("derived_id", "_gran", slot.alias("_slot"), "value")
            .join(touched, ["derived_id", "_gran", "_slot"], "left_semi")
        )
        out = slotted.groupBy("derived_id", "_slot").agg(
            F.sum("value").alias("value")
        ).select(
            F.col("derived_id").alias("stream_id"),
            F.col("_slot").alias("ts"),
            "value",
        )
        out = out.withColumn(
            "seq", _batch_seq_col(self.engine.tables._next_v(), ("value",))
        ).select(
            "stream_id", "ts", "seq", "value"
        )
        return out if out.head(1) else None

    def ingest_dataframe(self, df: DataFrame, batch_id: int = -1) -> None:
        """Land one batch DataFrame (INGEST_SCHEMA shape) through the same
        validation/landing/derive pipeline the streaming path uses — the
        scale-right bulk-ingest API: ``append_multiple`` materializes
        Python dicts on the driver, while this keeps the batch on the
        cluster end to end (validation joins, quarantine, incremental
        derive, metadata MERGE)."""
        self._process_batch(df, batch_id)

    def attach(self, source: DataFrame, available_now: bool = True):
        """Attach the validation/landing pipeline to ANY streaming
        DataFrame in INGEST_SCHEMA shape — file JSON-lines, Kafka
        (``kafka_source``), rate, socket. The foreachBatch body never
        looks at the source: swapping transports is a one-line change.
        Returns the started StreamingQuery."""
        w = (
            source.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def run_available(self) -> None:
        """Process everything currently in source_dir, then stop
        (Trigger.AvailableNow) — the batch-refresh mode."""
        src = self.engine.spark.readStream.schema(INGEST_SCHEMA).json(
            self.source_dir
        )
        self.attach(src).awaitTermination()


def _max_slot_width(sum_metas: list[dict]):
    import datetime as _dt

    w = max(BY_NAME[s["highest_granularity"]].duration_s for s in sum_metas)
    return _dt.timedelta(seconds=w)


def parse_json_payload(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """Decode a transport payload column (Kafka ``value`` bytes, MQTT
    message, ...) carrying the same JSON objects the file source reads,
    into INGEST_SCHEMA rows. Shared by ``kafka_source`` and tests so the
    two transports can never drift."""
    return df.select(
        F.from_json(F.col(payload_col).cast("string"), INGEST_SCHEMA).alias("_r")
    ).select("_r.*")


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka → INGEST_SCHEMA streaming DataFrame for
    ``StreamingIngest.attach``. Message values are the same JSON objects
    the file source consumes. Requires the spark-sql-kafka package on the
    cluster classpath (not bundled in this container — exercised via
    ``attach`` with substitute sources in tests)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_json_payload(raw, "value")


def streaming_downsample(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    granularity_name: str = "seconds10",
    lateness: str = "0 seconds",
):
    """True Structured Streaming windowed downsample: tumbling window of
    the given granularity with a watermark; append mode emits each bucket
    exactly once, after the watermark passes its end (completed-bucket
    rule T3; ``lateness`` > 0 is the engine's extension over the
    reference's strict monotonicity).

    Returns the StreamingQuery (AvailableNow trigger).
    """
    g = BY_NAME[granularity_name]
    src = spark.readStream.schema(INGEST_SCHEMA).json(source_dir)
    agg = (
        src.withWatermark("ts", lateness)
        .groupBy(
            "stream_id",
            F.window("ts", f"{g.duration_s} seconds").alias("_w"),
        )
        .agg(
            F.avg("value").alias("mean"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.sum(F.col("value") * F.col("value")).alias("sum_squares"),
            F.count("value").alias("count"),
            F.min("ts").alias("t_first"),
            F.max("ts").alias("t_last"),
        )
        .select(
            "stream_id",
            F.col("_w.start").alias("bucket_ts"),
            F.lit(g.name).alias("granularity"),
            "mean",
            "sum",
            "min",
            "max",
            "sum_squares",
            "count",
            "t_first",
            "t_last",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lateness: str = "10 minutes",
    keys: tuple[str, ...] = ("stream_id", "ts"),
):
    """Streaming point dedup for at-least-once upstreams (Kafka
    replays, producer retries): ``dropDuplicatesWithinWatermark`` on
    the point identity (stream_id, ts) keeps per-key state only until
    the watermark passes ``ts + lateness``, so state size is bounded by
    the duplicate-arrival horizon — not the stream's history. That
    bound is what makes it run forever at cluster scale; a plain
    ``dropDuplicates`` on an unbounded stream grows state without
    limit. State survives restarts via the checkpoint, so replays that
    straddle a restart are still deduped.

    Returns the StreamingQuery (AvailableNow trigger); output is an
    append-only parquet staging dir the batch ingest then consumes.
    """
    src = spark.readStream.schema(INGEST_SCHEMA).json(source_dir)
    deduped = src.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(
        list(keys)
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
