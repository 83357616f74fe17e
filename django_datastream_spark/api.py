"""The Datastream facade — reference-API-compatible entry points
(SURVEY §2.1 S1–S8, §3) over the Spark tables of storage.py.

Reference surface (`«ds»/datastream/api.py class Datastream` — §0 caveat):
``ensure_stream / find_streams / append / append_multiple / get_data /
delete_streams / downsample_streams / backprocess_streams``.

Spark-first design decisions (vs the reference's per-stream loops):

- Streams are ROWS in a metadata table, never Python objects holding data.
  Metadata updates are MERGE-style row-version appends (storage.py) — the
  driver never collects or rewrites the streams table; per-operation
  collects are bounded by the batch (its distinct stream ids), the match
  result, or the derived-stream count.
- ``append_multiple`` is the native path (micro-batch); ``append`` wraps it.
- Monotonicity validation (SURVEY T1) is a join against ``latest_ts`` +
  a within-batch window — one Spark job per batch, not per point.
- Derived streams are *computed views* over their sources (lag windows /
  bucket aggs, operators/derive.py) until the streaming path materializes
  them into ``points_derived``; observable datapoints are identical
  (FIXTURES B3.4).
- ``downsample_streams`` is a 6-level aggregation cascade where each level
  merges the previous level's algebraic partials — raw data is scanned
  once (operators/downsample.py). Bucket finality is PER STREAM: the
  watermark for each granularity is clamped to the bucket containing the
  stream's own latest datapoint, and buckets at/after the watermark are
  re-emitted as upserts, so a monotonic append landing in an
  already-emitted partial bucket updates the aggregate instead of being
  silently lost.
"""

from __future__ import annotations

import datetime as _dt
import json
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import exceptions as exc
from .granularity import BY_NAME, GRANULARITIES, Granularity, coarser_than
from .operators import derive as derive_ops
from .operators import downsample as ds_ops
from . import storage
from . import txnlog as TL
from .storage import STREAMS_SCHEMA, Tables

_UTC = _dt.timezone.utc


def _now() -> _dt.datetime:
    return _dt.datetime.now(tz=_UTC).replace(microsecond=0)


def _flatten_tags(tags: dict, prefix: str = "") -> dict[str, object]:
    out: dict[str, object] = {}
    for k, v in tags.items():
        path = f"{prefix}.{k}" if prefix else k
        if isinstance(v, dict):
            out.update(_flatten_tags(v, path))
        else:
            out[path] = v
    return out


def _canon_tag(val) -> str:
    """Compact canonical JSON for one tag value — the type-preserving
    matching key stored in ``tags_flat`` (SURVEY §1.1 Tags: ensure_stream
    must be idempotent for arbitrary JSON tag values)."""
    return json.dumps(val, sort_keys=True, separators=(",", ":"))


def _graph_props(d: dict, core: tuple[str, ...]) -> str | None:
    extra = {k: v for k, v in d.items() if k not in core}
    return json.dumps(extra, sort_keys=True) if extra else None


def tag_match_condition(query_tags: dict) -> Column:
    """Nested tag CONTAINMENT as one boolean Column over a frame with
    ``tags_flat`` (map<path, canonical-json>) and ``tags`` (json string)
    columns — the P4 matching rule find_streams/ensure_stream apply: a
    query sub-document matches iff EVERY flattened leaf path equals the
    stored value, so extra stored tags never block a match (MongoDB-
    style containment, like the reference's tag queries). Exact,
    type-preserving comparison on the canonical flattened map; rows
    written before tags_flat existed fall back to the (lossy) JSON-path
    probe so old stores stay readable. Pure column expression — at any
    scale this is a predicate over the streams scan, never a collect.
    Declared query q156 pins these semantics against a DuckDB oracle."""
    cond = F.lit(True)
    for path, val in _flatten_tags(query_tags).items():
        exact = F.col("tags_flat")[path] == F.lit(_canon_tag(val))
        jp = "$." + path
        expected = val if isinstance(val, str) else json.dumps(val)
        legacy = F.get_json_object("tags", jp) == F.lit(str(expected))
        cond = cond & (
            F.when(F.col("tags_flat").isNotNull(), exact).otherwise(legacy)
        )
    return cond


class Datapoints:
    """Lazy result of get_data — reference-shaped iteration
    (each item ``{'t': ..., 'v': ...}``) plus the underlying DataFrame."""

    def __init__(self, df: DataFrame, raw: bool, reverse: bool, nominal: bool = False):
        self.df = df
        self._raw = raw
        self._reverse = reverse
        self._nominal = nominal

    @staticmethod
    def _expand_graph(g: dict) -> dict:
        def item(x: dict, core: tuple[str, ...]) -> dict:
            props = x.get("props")
            out = {k: x[k] for k in core}
            if props:
                out.update(json.loads(props))
            return out

        return {
            "v": [item(x, ("i",)) for x in g.get("v") or []],
            "e": [item(x, ("f", "t")) for x in g.get("e") or []],
        }

    def __iter__(self):
        # prefetch: toLocalIterator schedules one job per partition; without
        # prefetch those run strictly serially against consumption (a
        # 32-partition aggregate read = 32 sequential round trips)
        for row in self.df.toLocalIterator(prefetchPartitions=True):
            d = row.asDict(recursive=True)
            if self._raw:
                v = d["value"]
                if self._nominal and isinstance(v, str):
                    v = json.loads(v)
                elif isinstance(v, dict) and "v" in v and "e" in v:
                    v = self._expand_graph(v)
                yield {"t": d["ts"], "v": v}
            else:
                v = d.get("v") or {}
                t = d.get("t") or {}
                yield {
                    "t": {k: x for k, x in t.items() if x is not None} or d["bucket_ts"],
                    "v": {k: x for k, x in v.items() if x is not None},
                    "bucket": d["bucket_ts"],
                }

    def __len__(self) -> int:
        return self.df.count()


class Datastream:
    """Engine facade over one storage root."""

    VALUE_TYPES = ("numeric", "nominal", "graph")
    DERIVE_OPERATORS = ("sum", "derivative", "counter_reset", "counter_derivative")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        attach_views: bool = False,
        view_prefix: str = "ext_",
    ):
        """``attach_views=True`` (opt-in) re-attaches every table in
        the persisted external catalog as a SQL temp view at
        construction — a fresh engine over an existing store serves
        ``SELECT * FROM ext_<name>`` with no manual
        :meth:`attach_external_views` call. Opt-in because temp views
        are SESSION-scoped: an engine built on a shared session would
        otherwise silently (re)bind names there."""
        self.spark = spark
        self.tables = Tables(spark, root)
        if attach_views:
            self.attach_external_views(prefix=view_prefix)

    # ------------------------------------------------------------------
    # stream discovery / creation (S4, ensure_stream)
    # ------------------------------------------------------------------
    def _streams(self) -> DataFrame:
        return self.tables.read_streams()

    def _match(self, streams: DataFrame, query_tags: dict | None) -> DataFrame:
        if not query_tags:
            return streams
        return streams.filter(tag_match_condition(query_tags))

    def find_streams(self, query_tags: dict | None = None) -> list[dict]:
        rows = self._match(self._streams(), query_tags).collect()
        out = []
        for r in rows:
            d = r.asDict(recursive=True)
            d["tags"] = json.loads(d["tags"]) if d["tags"] else {}
            d.pop("tags_flat", None)  # internal matching index
            out.append(d)
        return sorted(out, key=lambda d: d["stream_id"])

    def ensure_stream(
        self,
        query_tags: dict,
        tags: dict | None = None,
        value_downsamplers: list[str] | None = None,
        highest_granularity: str | Granularity = "seconds",
        *,
        value_type: str = "numeric",
        time_downsamplers: list[str] | None = None,
        derive_from: list[str] | None = None,
        derive_op: str | None = None,
        derive_args: dict | None = None,
    ) -> str:
        """Create-or-get a stream identified by ``query_tags`` (S4/§1.1).
        Idempotent; conflicting respecification raises
        InconsistentStreamConfiguration."""
        if value_type not in self.VALUE_TYPES:
            raise exc.UnsupportedValueType(value_type)
        if derive_op is not None and derive_op not in self.DERIVE_OPERATORS:
            raise exc.DatastreamError(f"unknown derive operator: {derive_op}")
        gran = (
            highest_granularity
            if isinstance(highest_granularity, Granularity)
            else BY_NAME[highest_granularity]
        )
        if value_type == "numeric":
            default_v = list(ds_ops.NUMERIC_DOWNSAMPLERS)
        elif value_type == "nominal":
            default_v = list(ds_ops.NOMINAL_DOWNSAMPLERS)
        else:
            default_v = list(ds_ops.GRAPH_DOWNSAMPLERS)
        v_ds = list(value_downsamplers) if value_downsamplers is not None else default_v
        t_ds = (
            list(time_downsamplers)
            if time_downsamplers is not None
            else list(ds_ops.TIME_DOWNSAMPLERS)
        )
        unknown = set(v_ds) - set(default_v)
        if unknown:
            raise exc.UnsupportedDownsampler(sorted(unknown))
        unknown_t = set(t_ds) - set(ds_ops.TIME_DOWNSAMPLERS)
        if unknown_t:
            # a bogus time downsampler would otherwise surface as an
            # AnalysisException at the first aggregated get_data
            raise exc.UnsupportedDownsampler(sorted(unknown_t))

        existing = self._match(self._streams(), query_tags).collect()
        if len(existing) > 1:
            raise exc.MultipleStreamsReturned(query_tags)
        if existing:
            row = existing[0]
            # full-spec comparison (SURVEY §2.1 ensure_stream: ANY respec
            # mismatch raises). derived_from is order-sensitive — source
            # roles (e.g. counter_derivative data vs reset) are positional.
            old_sources = list(row["derived_from"]) if row["derived_from"] else None
            new_sources = list(derive_from) if derive_from else None
            old_args = json.loads(row["derive_args"]) if row["derive_args"] else None
            if (
                row["value_type"] != value_type
                or row["highest_granularity"] != gran.name
                or sorted(row["value_downsamplers"]) != sorted(v_ds)
                or sorted(row["time_downsamplers"]) != sorted(t_ds)
                or (row["derive_op"] or None) != derive_op
                or old_sources != new_sources
                or old_args != (derive_args or None)
            ):
                raise exc.InconsistentStreamConfiguration(query_tags)
            return row["stream_id"]

        merged_tags = dict(query_tags)
        if tags:
            merged_tags.update(tags)
        stream_id = uuid.uuid4().hex
        new_row = {
            "stream_id": stream_id,
            "value_type": value_type,
            "highest_granularity": gran.name,
            "value_downsamplers": v_ds,
            "time_downsamplers": t_ds,
            "derived_from": list(derive_from) if derive_from else None,
            "derive_op": derive_op,
            "derive_args": json.dumps(derive_args) if derive_args else None,
            "tags": json.dumps(merged_tags, sort_keys=True),
            "tags_flat": {
                p: _canon_tag(v) for p, v in _flatten_tags(merged_tags).items()
            },
            "earliest_ts": None,
            "latest_ts": None,
            "downsampled_until": None,
        }
        self.tables.upsert_streams([new_row])
        return stream_id

    def _get_stream(self, stream_id: str) -> dict:
        rows = self._streams().filter(F.col("stream_id") == stream_id).collect()
        if not rows:
            raise exc.StreamNotFound(stream_id)
        return rows[0].asDict(recursive=True)

    # ------------------------------------------------------------------
    # ingest (S1 append, S2 append_multiple)
    # ------------------------------------------------------------------
    def append(
        self,
        stream_id: str,
        value,
        timestamp: _dt.datetime | None = None,
        check_timestamp: bool = True,
    ) -> None:
        self.append_multiple(
            [{"stream_id": stream_id, "value": value, "timestamp": timestamp}],
            check_timestamp=check_timestamp,
        )

    def append_multiple(
        self, datapoints: list[dict], check_timestamp: bool = True
    ) -> None:
        """Batch ingest across streams — the Spark-native path (micro-batch).

        Validates stream existence, derived-stream protection, value types
        and (optionally) per-stream timestamp monotonicity, then appends to
        points_raw and advances earliest/latest_ts — all as bulk operations.
        Metadata reads/writes are bounded by the batch's distinct stream
        ids (never the full streams table).
        """
        if not datapoints:
            return
        sids = sorted({dp["stream_id"] for dp in datapoints})
        metas = {
            r["stream_id"]: r.asDict(recursive=True)
            for r in self._streams().filter(F.col("stream_id").isin(sids)).collect()
        }
        rows = []
        for dp in datapoints:
            sid = dp["stream_id"]
            meta = metas.get(sid)
            if meta is None:
                raise exc.StreamNotFound(sid)
            if meta["derive_op"]:
                raise exc.AppendToDerivedStreamNotAllowed(sid)
            ts = dp.get("timestamp") or _now()
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_UTC)
            value = dp["value"]
            vt = meta["value_type"]
            row = {
                "stream_id": sid,
                "ts": ts,
                "seq": None,  # assigned below
                "value": None,
                "value_nominal": None,
                "value_graph": None,
            }
            if vt == "numeric":
                if value is not None and not isinstance(value, (int, float)):
                    raise exc.UnsupportedValueType(
                        f"numeric stream {sid} got {type(value).__name__}"
                    )
                row["value"] = float(value) if value is not None else None
            elif vt == "nominal":
                row["value_nominal"] = json.dumps(value, sort_keys=True)
            else:  # graph — arbitrary extra vertex/edge keys round-trip via props
                if not isinstance(value, dict) or "v" not in value or "e" not in value:
                    raise exc.UnsupportedValueType(
                        f"graph stream {sid} expects {{'v': [...], 'e': [...]}}"
                    )
                row["value_graph"] = {
                    "v": [
                        {"i": str(x["i"]), "props": _graph_props(x, ("i",))}
                        for x in value.get("v", [])
                    ],
                    "e": [
                        {
                            "f": str(x["f"]),
                            "t": str(x["t"]),
                            "props": _graph_props(x, ("f", "t")),
                        }
                        for x in value.get("e", [])
                    ],
                }
            rows.append(row)

        # insertion sequence via the storage layer's reservation contract
        # (_next_v + bump_v): the streaming path uses the same scheme, so
        # interleaved batch/stream appends can never hand out overlapping
        # seq ranges even if the wall clock stalls
        base = self.tables._next_v()
        for i, row in enumerate(rows):
            row["seq"] = base + i
        self.tables.bump_v(base + len(rows))

        batch = storage.local_rows_df(
            self.spark, rows, self.tables.read_points_raw().drop("p_date").schema
        )

        if check_timestamp:
            # per-stream strict monotonicity: within-batch (lag window) and
            # vs the stored latest_ts (broadcast join) — one job, no loops.
            w = Window.partitionBy("stream_id").orderBy("ts")
            latest = storage.local_rows_df(
                self.spark,
                [
                    (sid, m["latest_ts"])
                    for sid, m in metas.items()
                    if m["latest_ts"] is not None
                ]
                or [("__none__", _now())],
                "stream_id string, latest_ts timestamp",
            )
            bad = (
                batch.withColumn("_prev", F.lag("ts").over(w))
                .join(F.broadcast(latest), "stream_id", "left")
                .filter(
                    (F.col("ts") <= F.col("latest_ts"))
                    | (F.col("ts") <= F.col("_prev"))
                )
                .limit(1)
                .collect()
            )
            if bad:
                raise exc.InvalidTimestamp(
                    f"stream {bad[0]['stream_id']}: ts {bad[0]['ts']} is not "
                    "strictly after the previous datapoint"
                )

        self.tables.append_points_raw(batch)

        # Stream-metadata maintenance is a DATAFRAME PLAN, the same
        # stats-⋈-streams merge the streaming path runs (ingest.py) —
        # never a per-touched-stream driver loop. earliest/latest
        # advance via least/greatest; the WATERMARK ROLLBACK (finality
        # healing for late-landing data — check_timestamp=False on the
        # stream itself, or the stream feeding a DERIVED stream whose
        # old slots a late point retroactively changes) lowers each
        # granularity's downsampled_until to the bucket of the
        # earliest new point, all inside transform_values. Dependent
        # derived streams get their floor by exploding derived_from
        # and joining against the batch stats — so a batch appending
        # to multiple sources of one derived stream takes the MIN
        # source floor in one hash-agg, the elementwise-min contract
        # the old driver merge enforced by hand. Nothing stream-count-
        # sized crosses the driver. Known edge (unchanged): a bucket
        # whose rows ALL vanish under the recompute re-emits nothing,
        # so its stale aggregate row survives — upsert has no delete
        # clause; operators/merge.merge_into(when_matched='delete') is
        # the general repair tool if that case matters.
        from .streaming.ingest import _bucket_by_name

        # Batch stats come straight off ``rows`` (r12): the datapoints are
        # ALREADY driver-side lists by this method's contract, so min/max
        # per stream is a dict fold here, not a Spark aggregation — the
        # stats frame becomes a LocalRelation whose broadcast needs no job.
        # The batch-derived sides (stats, floors) are bounded by the
        # batch's distinct stream ids — a micro-batch by contract — so
        # they are explicitly BROADCAST (guide §3.1): size estimates for
        # tiny local-relation aggregates routinely miss the auto-broadcast
        # threshold pre-AQE, and the resulting sort-merge exchanges turned
        # each metadata merge into an 8-job AQE cascade (measured on
        # q182's appends). The streams side is the only unbounded frame
        # and is never shuffled by these joins now. (The STREAMING ingest
        # path computes the same stats as a real aggregation — its batches
        # are distributed; see streaming/ingest.py.)
        _mn: dict[str, object] = {}
        _mx: dict[str, object] = {}
        for r in rows:
            s, ts = r["stream_id"], r["ts"]
            if s not in _mn or ts < _mn[s]:
                _mn[s] = ts
            if s not in _mx or ts > _mx[s]:
                _mx[s] = ts
        stats = storage.local_rows_df(
            self.spark,
            [(s, _mn[s], _mx[s]) for s in sorted(_mn)],
            "stream_id string, _mn timestamp, _mx timestamp",
        )
        streams_df = self._streams()
        # rollback floor per affected stream: its own batch min, plus
        # (for derived streams) the min over its sources' batch mins
        dep_floor = (
            streams_df.filter(F.col("derive_op").isNotNull())
            .select("stream_id", F.explode("derived_from").alias("_src"))
            .join(
                F.broadcast(
                    stats.select(
                        F.col("stream_id").alias("_src"), F.col("_mn")
                    )
                ),
                "_src",
            )
            .select("stream_id", "_mn")
        )
        floors = (
            stats.select("stream_id", "_mn")
            .unionByName(dep_floor)
            .groupBy("stream_id")
            .agg(F.min("_mn").alias("_floor"))
        )
        merged = (
            streams_df.join(F.broadcast(floors), "stream_id")
            .join(F.broadcast(stats), "stream_id", "left")  # _mn/_mx null on dep-only rows
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
            # least() would SKIP nulls, so never-downsampled (null)
            # entries are explicitly preserved — a floor on a never-run
            # granularity would wrongly mark unseen history final
            .withColumn(
                "downsampled_until",
                F.transform_values(
                    "downsampled_until",
                    lambda g, v: F.when(v.isNull(), v).otherwise(
                        F.least(v, _bucket_by_name(g, F.col("_floor")))
                    ),
                ),
            )
            .drop("_mn", "_mx", "_floor")
        )
        self.tables.upsert_streams_df(merged)

    # ------------------------------------------------------------------
    # derived streams as computed views (W1–W4)
    # ------------------------------------------------------------------
    def _materialized_ids(self) -> set[str]:
        """Stream ids with ANY materialized derived slot — the single
        definition both downsample routing and aggregate() consult, so
        they can never disagree about materialization state.  NOTE the
        granularity of this signal: one materialized slot marks the
        whole stream, so a derived stream whose sources carried history
        BEFORE streaming materialization began must be backfilled once
        via ``backprocess_streams(materialize=True)`` or its
        pre-streaming history is invisible to materialized-first reads.
        Bounded collect (distinct ids over the small derived table)."""
        return {
            r["stream_id"]
            for r in self.tables.read_points_derived(latest_only=False)
            .select("stream_id")
            .distinct()
            .collect()
        }

    def _derived_points(
        self, streams: list[dict], exclude_materialized: bool = False
    ) -> DataFrame | None:
        derived = [s for s in streams if s.get("derive_op")]
        if exclude_materialized and derived:
            mat = self._materialized_ids()
            derived = [s for s in derived if s["stream_id"] not in mat]
        if not derived:
            return None
        raw = self.tables.read_points_raw().select("stream_id", "ts", "value")
        return derive_ops.build_derive_plan(derived, raw)

    def backprocess_streams(
        self,
        query_tags: dict | None = None,
        materialize: bool = False,
        replace: bool = False,
    ) -> DataFrame | None:
        """Recompute derived-stream datapoints (reference: backfill job).
        Returns the derived (stream_id, ts, value) rows; with
        ``materialize=True`` also PERSISTS them to points_derived under
        a fresh seq base (latest-seq-wins for every (stream_id, ts) the
        backfill RE-EMITS) — the repair path for derived streams whose
        sources carried history before streaming materialization began.

        No-delete edge (same as the points_agg upsert): latest-seq-wins
        cannot RETRACT a (stream_id, ts) key the recompute no longer
        emits — e.g. after a source reset that suppresses a formerly
        materialized slot — so such ghost rows survive latest-only
        reads. Pass ``replace=True`` to make the backfill RETRACTING:
        every stored version of the recomputed streams' points is
        dropped (partition-scoped rewrite,
        ``Tables.replace_points_derived``) and the backfill lands as
        the only copy, in one snapshot-isolated overwrite commit — the
        same statement a Delta/Iceberg MERGE with NOT-MATCHED-BY-SOURCE
        DELETE expresses. ``replace`` requires ``materialize``."""
        if replace and not materialize:
            raise ValueError("replace=True requires materialize=True")
        streams = self.find_streams(query_tags)
        out = self._derived_points(streams)
        if materialize and out is not None:
            base = self.tables._next_v()
            rows = out.select(
                "stream_id", "ts", F.lit(base).alias("seq"), "value"
            )
            if replace:
                derived_ids = [
                    s["stream_id"] for s in streams if s.get("derive_op")
                ]
                self.tables.replace_points_derived(derived_ids, rows)
            else:
                self.tables.append_points_derived(rows)
            self.tables.bump_v(base + 1)
        return out

    # ------------------------------------------------------------------
    # query (S3 get_data)
    # ------------------------------------------------------------------
    def get_data(
        self,
        stream_id: str,
        granularity: str | Granularity,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
        start_exclusive: _dt.datetime | None = None,
        end_exclusive: _dt.datetime | None = None,
        reverse: bool = False,
        value_downsamplers: list[str] | None = None,
        time_downsamplers: list[str] | None = None,
    ) -> Datapoints:
        if start is not None and start_exclusive is not None:
            raise ValueError("start and start_exclusive are mutually exclusive")
        if end is not None and end_exclusive is not None:
            raise ValueError("end and end_exclusive are mutually exclusive")
        meta = self._get_stream(stream_id)
        gran = (
            granularity
            if isinstance(granularity, Granularity)
            else BY_NAME[granularity]
        )
        highest = BY_NAME[meta["highest_granularity"]]
        if gran.duration_s < highest.duration_s:
            raise exc.UnsupportedGranularity(
                f"{gran.name} is finer than highest granularity {highest.name}"
            )

        if gran.name == highest.name:
            if meta["derive_op"]:
                # materialized-first: the streaming path maintains derived
                # points in points_derived (latest version per slot); fall
                # back to the computed view when nothing is materialized.
                mat = self.tables.read_points_derived().filter(
                    F.col("stream_id") == stream_id
                )
                if mat.head(1):
                    df = mat
                else:
                    pts = self._derived_points([meta])
                    df = pts.filter(F.col("stream_id") == stream_id)
            else:
                df = self.tables.read_points_raw().filter(
                    F.col("stream_id") == stream_id
                )
            ts_col, raw = "ts", True
            if meta["value_type"] == "nominal":
                df = df.withColumn("value", F.col("value_nominal"))
            elif meta["value_type"] == "graph":
                df = df.withColumn("value", F.col("value_graph"))
        else:
            df = self.tables.read_points_agg().filter(
                (F.col("stream_id") == stream_id)
                & (F.col("granularity") == gran.name)
            )
            ts_col, raw = "bucket_ts", False
            v_keys = value_downsamplers or meta["value_downsamplers"]
            bad = set(v_keys) - set(meta["value_downsamplers"])
            if bad:
                raise exc.UnsupportedDownsampler(sorted(bad))
            t_keys = time_downsamplers or meta["time_downsamplers"]
            bad_t = set(t_keys) - set(meta["time_downsamplers"])
            if bad_t:
                raise exc.UnsupportedDownsampler(sorted(bad_t))
            # struct-field projection → parquet nested-schema pruning (P1/P2)
            df = df.select(
                "stream_id",
                "bucket_ts",
                F.struct(*[F.col(f"v.{k}").alias(k) for k in v_keys]).alias("v"),
                F.struct(*[F.col(f"t.{k}").alias(k) for k in t_keys]).alias("t"),
            )

        c = F.col(ts_col)
        if start is not None:
            df = df.filter(c >= F.lit(start))
        if start_exclusive is not None:
            df = df.filter(c > F.lit(start_exclusive))
        if end is not None:
            df = df.filter(c <= F.lit(end))
        if end_exclusive is not None:
            df = df.filter(c < F.lit(end_exclusive))
        order = [c, F.col("seq")] if (raw and "seq" in df.columns) else [c]
        if reverse:
            order = [o.desc() for o in order]
        df = df.orderBy(*order)
        return Datapoints(
            df, raw=raw, reverse=reverse, nominal=meta["value_type"] == "nominal"
        )

    # ------------------------------------------------------------------
    # aggregate routing (SURVEY §4 'Aggregate routing' extension row)
    # ------------------------------------------------------------------
    def aggregate(
        self,
        query_tags: dict | None = None,
        *,
        bucket_seconds: int,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
    ) -> DataFrame:
        """Ad-hoc bucketed aggregates with AUTOMATIC materialized-view
        routing (reference: caller-picked granularity only; this is the
        SURVEY §4 extension). Output buckets of width ``bucket_seconds``
        (epoch-aligned; any multiple of a stored granularity) are answered
        from ``points_agg`` wherever each stream's finality watermark
        proves the stored aggregates complete — an algebraic merge over a
        partition-pruned agg scan — and only the unmaterialized tail (plus
        never-downsampled streams) is recomputed from raw points, with the
        raw scan bounded below by the watermark.

        Invariant making this exact: agg buckets starting before the
        per-granularity watermark are final (monotonic appends; the
        sum-derive clamp keeps lagging multi-source slots above it).
        ``start``/``end`` (end exclusive) must align to ``bucket_seconds``.

        Driver-side cost note: routing collects the MATCHED stream rows
        and loops over them in Python (unlike downsample_streams, which
        is loop-free joins). Bounded by the match, not the store — pass
        selective ``query_tags`` on large stores; the join-based form is
        the known follow-up if ad-hoc aggregates over millions of
        streams become a real workload.
        Returns (stream_id, granularity, bucket_ts, v, t, t_sum_epoch);
        partial tail buckets are emitted (query semantics — the
        completed-bucket rule governs materialization, not reads).
        """
        W = int(bucket_seconds)
        if W <= 0:
            raise ValueError("bucket_seconds must be positive")
        for b, nm in ((start, "start"), (end, "end")):
            if b is not None:
                bt = b if b.tzinfo else b.replace(tzinfo=_UTC)
                if int(bt.timestamp()) % W:
                    raise ValueError(f"{nm} must align to bucket_seconds")
        target = Granularity(f"agg{W}s", W)
        metas = self.find_streams(query_tags)
        empty = self.tables.read_points_agg().limit(0)
        if not metas:
            return empty
        mat = self._materialized_ids()
        # route plan per stream: the COARSEST stored granularity dividing
        # the output width whose watermark exists (fewest rows to merge)
        agg_route: dict[str, tuple[str, _dt.datetime]] = {}
        for m in metas:
            if m["derive_op"] and m["stream_id"] not in mat:
                continue  # pure computed view → recompute path
            wm_map = m["downsampled_until"] or {}
            for g in coarser_than(BY_NAME[m["highest_granularity"]]):
                if W % g.duration_s == 0 and wm_map.get(g.name) is not None:
                    agg_route[m["stream_id"]] = (g.name, wm_map[g.name])

        def _rng(df: DataFrame, col: str) -> DataFrame:
            if start is not None:
                df = df.filter(F.col(col) >= F.lit(start))
            if end is not None:
                df = df.filter(F.col(col) < F.lit(end))
            return df

        parts: list[DataFrame] = []
        by_src: dict[str, list[tuple[str, _dt.datetime]]] = {}
        for sid, (gname, wm) in agg_route.items():
            by_src.setdefault(gname, []).append((sid, wm))
        for gname, members in by_src.items():
            wm_df = F.broadcast(
                storage.local_rows_df(
                    self.spark, members, "stream_id string, _wm timestamp"
                )
            )
            src = _rng(
                self.tables.read_points_agg().filter(
                    F.col("granularity") == gname
                ),
                "bucket_ts",
            )
            covered = (
                src.join(wm_df, "stream_id")
                .filter(
                    target.bucket_epoch_col(F.col("bucket_ts")) + W
                    <= F.unix_timestamp("_wm")
                )
                .drop("_wm", "granularity")
            )
            parts.append(ds_ops.rollup_agg(covered, target))

        # raw recompute: agg-routed streams from their watermark-aligned
        # tail bucket on; everything else in full
        bounds = []
        for m in metas:
            sid = m["stream_id"]
            if sid in agg_route:
                wm_epoch = int(
                    agg_route[sid][1].replace(tzinfo=_UTC).timestamp()
                    if agg_route[sid][1].tzinfo is None
                    else agg_route[sid][1].timestamp()
                )
                bounds.append((sid, _dt.datetime.fromtimestamp(wm_epoch // W * W, tz=_UTC)))
            else:
                bounds.append((sid, None))
        ids_df = F.broadcast(
            storage.local_rows_df(self.spark, bounds, "stream_id string, _lb timestamp")
        )
        pts = self.tables.read_points_raw().select(
            "stream_id", "ts", "value", "value_nominal"
        )
        lows = [b for _, b in bounds]
        if all(b is not None for b in lows) and lows:
            # conservative global bound reaches the parquet scan
            pts = pts.filter(F.col("ts") >= F.lit(min(lows)))
        mat_pts = self.tables.read_points_derived().select(
            "stream_id", "ts", "value", F.lit(None).cast("string").alias("value_nominal")
        )
        pts = pts.unionByName(mat_pts)
        view_metas = [
            m for m in metas if m["derive_op"] and m["stream_id"] not in mat
        ]
        if view_metas:
            view = self._derived_points(view_metas)
            if view is not None:
                pts = pts.unionByName(
                    view.withColumn("value_nominal", F.lit(None).cast("string"))
                )
        tail = (
            _rng(pts, "ts")
            .join(ids_df, "stream_id")
            .filter(F.col("_lb").isNull() | (F.col("ts") >= F.col("_lb")))
            .drop("_lb")
        )
        parts.append(ds_ops.downsample_raw(tail, target))

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("stream_id", "bucket_ts")

    # ------------------------------------------------------------------
    # delete (S5)
    # ------------------------------------------------------------------
    # ------------------------------------------------------------------
    # external-table catalog (lakehouse interop served BY NAME)
    # ------------------------------------------------------------------
    def register_external_table(
        self, name: str, path: str, format: str | None = None
    ) -> dict:
        """Register an external/adopted lakehouse table under a NAME,
        so the facade (and anything built on it — SQL views, the HTTP
        layer) serves it uniformly with the engine's own streams
        instead of requiring path-oriented library calls.

        The format is DETECTED (sources/detect.py) unless pinned;
        detection runs at registration so a bogus path fails here, not
        at first read. Idempotent for the same (path, format);
        re-registering a name to a DIFFERENT path raises (silent
        repointing would change every downstream consumer)."""
        import re as _re

        from .sources import detect as DET

        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"external table name {name!r} must be a valid SQL "
                "identifier (it becomes a view name)"
            )
        if format is not None:
            # a PIN must be backed by its own marker (dual-log roots
            # carry several views; the pin decides which one serves)
            if not DET.format_marker_present(path, format):
                raise ValueError(
                    f"{path}: no {format} marker — cannot register "
                    f"{name!r} with that format pin"
                )
            fmt = format
        else:
            fmt = DET.detect_table_format(path)
        entry = {"path": path, "format": fmt}

        def _apply(cat: dict) -> dict:
            prev = cat.get(name)
            if prev is not None and prev != entry:
                raise exc.DatastreamError(
                    f"external table {name!r} is already registered "
                    f"to {prev['path']} ({prev['format']}) — "
                    "unregister first"
                )
            cat[name] = entry
            return cat

        self.tables.mutate_external_catalog(_apply)
        return dict(entry, name=name)

    def unregister_external_table(self, name: str) -> bool:
        hit = {"n": False}

        def _apply(cat: dict) -> dict:
            hit["n"] = cat.pop(name, None) is not None
            return cat

        self.tables.mutate_external_catalog(_apply)
        return hit["n"]

    def external_tables(self) -> list[dict]:
        """Catalog listing: [{name, path, format}] sorted by name."""
        return [
            dict(e, name=n)
            for n, e in sorted(
                self.tables.read_external_catalog().items()
            )
        ]

    def _external_entry(self, name: str) -> dict:
        cat = self.tables.read_external_catalog()
        if name not in cat:
            raise exc.StreamNotFound(f"external table {name!r}")
        return cat[name]

    def external_table(
        self,
        name: str,
        version: int | None = None,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> DataFrame:
        """The registered table as a DataFrame (time-travel pins pass
        through to the matching reader, wrong-format pins raise —
        detect.open_table's contract)."""
        from .sources import detect as DET

        e = self._external_entry(name)
        return DET.open_table(
            self.spark,
            e["path"],
            version=version,
            snapshot_id=snapshot_id,
            as_of_timestamp_ms=as_of_timestamp_ms,
            format=e["format"],  # the registered pin decides the view
        )

    def external_stream(self, name: str, **options) -> DataFrame:
        """The registered table as a STREAMING DataFrame
        (detect.open_stream: txn_table / delta_table / iceberg_table
        source by detected format; options pass through)."""
        from .sources import detect as DET

        e = self._external_entry(name)
        return DET.open_stream(
            self.spark, e["path"], format=e["format"], **options
        )

    def convert_external_table(
        self,
        name: str,
        target: str,
        register_as: str | None = None,
    ) -> dict:
        """ZERO-COPY format conversion of a registered external table
        (``sources.convert``): grow the ``target`` format's metadata
        tree over the same data files in place. Re-runnable — later
        calls track new source commits incrementally. The original
        registration keeps serving the SOURCE format (its pin decides
        the view on the now-dual-log root); pass ``register_as`` to
        also register the converted view under a second name with the
        target-format pin, so both views of the table are served by
        name side by side. A txn-format registration raises with the
        direct remediation (``publish_delta``/``publish_iceberg`` —
        the txn tier IS the conversion hub, no mirror needed)."""
        from .sources import convert as CVT

        if target not in ("delta", "iceberg"):
            raise ValueError(
                f"target {target!r} must be 'delta' or 'iceberg'"
            )
        e = self._external_entry(name)
        src = e["format"]
        if src == target:
            raise exc.DatastreamError(
                f"external table {name!r} is already {target}"
            )
        if src == "delta" and target == "iceberg":
            rec = CVT.convert_delta_to_iceberg(self.spark, e["path"])
        elif src == "iceberg" and target == "delta":
            rec = CVT.convert_iceberg_to_delta(self.spark, e["path"])
        elif src == "txn":
            raise exc.DatastreamError(
                f"external table {name!r} is txn-format — the txn "
                "tier publishes directly (publish_delta / "
                "publish_iceberg), no conversion mirror applies"
            )
        else:
            raise exc.DatastreamError(
                f"external table {name!r} has format {src!r} — only "
                "delta and iceberg sources convert zero-copy; a "
                "plain parquet directory adopts into the txn tier "
                "first (txnlog.init_table / adopt), then publishes"
            )
        if register_as:
            self.register_external_table(
                register_as, e["path"], format=target
            )
        return dict(
            rec, name=name, source_format=src, target=target
        )

    def attach_external_views(self, prefix: str = "") -> list[str]:
        """Create/refresh a SQL temp view per registered table —
        ``spark.sql(f"SELECT ... FROM {prefix}{name}")`` serves the
        external table through the same session catalog the engine's
        own tables use. Returns the view names. (Construct with
        ``attach_views=True`` to run this automatically.)"""
        out = []
        for e in self.external_tables():
            view = f"{prefix}{e['name']}"
            self.external_table(e["name"]).createOrReplaceTempView(view)
            out.append(view)
        return out

    def external_table_view(
        self,
        name: str,
        version: int | None = None,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        view: str | None = None,
    ) -> str:
        """TIME TRAVEL on the SQL surface: attach one registered
        table AT a pinned era as a temp view and return the view
        name (default ``<name>_v<version>`` / ``_s<snapshot>`` /
        ``_t<ms>``; pass ``view=`` to choose). The pin resolves at
        attach time and the view stays frozen on it — exactly the
        library call's contract, reachable from ``spark.sql``."""
        if view is None:
            if version is not None:
                view = f"{name}_v{version}"
            elif snapshot_id is not None:
                view = f"{name}_s{snapshot_id}"
            elif as_of_timestamp_ms is not None:
                view = f"{name}_t{as_of_timestamp_ms}"
            else:
                view = name
        self.external_table(
            name,
            version=version,
            snapshot_id=snapshot_id,
            as_of_timestamp_ms=as_of_timestamp_ms,
        ).createOrReplaceTempView(view)
        return view

    def delete_streams(self, query_tags: dict | None = None) -> int:
        streams = self._streams()
        targets = [s["stream_id"] for s in self.find_streams(query_tags)]
        if not targets:
            return 0
        tdf = storage.local_rows_df(self.spark, [(t,) for t in targets], "stream_id string")
        # dependency check as one join: any surviving stream deriving from
        # a target blocks the delete (no driver loop over the table)
        dep = (
            streams.join(F.broadcast(tdf), "stream_id", "left_anti")
            .select(
                F.col("stream_id").alias("dependent"),
                F.explode("derived_from").alias("stream_id"),
            )
            .join(F.broadcast(tdf), "stream_id", "left_semi")
            .head(1)
        )
        if dep:
            raise exc.OutstandingDependenciesError(
                f"stream {dep[0]['dependent']} derives from {dep[0]['stream_id']}"
            )
        self.tables.delete_streams_rows(targets)
        # datapoints of deleted streams become unreachable (metadata is the
        # source of truth); vacuum() reclaims the storage at leisure.
        return len(targets)

    def vacuum(self) -> None:
        """Physically drop datapoints of deleted streams and compact
        superseded metadata/derived-point versions (the deferred half of
        S5). Every table changes by commits: the streams registry
        collapses to its live rows in one overwrite commit (a metadata
        upsert landing meanwhile makes it raise
        ``txnlog.CommitConflictError`` — nothing is lost; re-run),
        dead raw/aggregate rows die by deletion vectors and derived
        points are compacted by one overwrite commit. Each table then
        reclaims every file its latest snapshot no longer references
        (``txnlog.txn_vacuum``) — readers planned against an OLDER
        snapshot lose those files, so run vacuum from a maintenance
        window."""
        t = self.tables
        t.compact_streams()
        if TL.is_txn_table(t.streams_path):
            TL.txn_vacuum(t.streams_path)
        t.vacuum_points(t.read_streams().select("stream_id"))

    # ------------------------------------------------------------------
    # downsampling (A14, §3.3) — hierarchical cascade
    # ------------------------------------------------------------------
    def downsample_streams(
        self,
        query_tags: dict | None = None,
        until: _dt.datetime | None = None,
        return_datapoints: bool = False,
    ):
        """Materialize buckets for every granularity coarser than each
        stream's highest granularity.

        Emission follows the reference's completed-bucket rule (bucket_end
        <= until), but FINALITY is per stream: the stored watermark is
        clamped to the bucket containing that stream's own latest
        datapoint — ``min(until, latest_ts)`` — because a strictly
        monotonic stream can still append into that bucket. Buckets
        at/after the watermark are re-emitted each run and UPSERTED
        (storage.upsert_points_agg), so aggregates never diverge from raw
        data; buckets before it are final and never rescanned.

        Level k is computed from level k−1's aggregates (algebraic merge);
        only streams whose highest granularity IS level k−1 read raw points
        at level k. Raw data is scanned once per run, bounded below by the
        minimum stored watermark. All per-stream logic is joins against the
        streams metadata — no driver loop over streams.
        """
        until = until or _now()
        if until.tzinfo is None:
            until = until.replace(tzinfo=_UTC)
        until_epoch = int(until.timestamp())
        n_gran = len(GRANULARITIES)

        idx_pairs = [x for g, i in ((g.name, i) for i, g in enumerate(GRANULARITIES)) for x in (F.lit(g), F.lit(i))]
        sel = (
            self._match(self._streams(), query_tags)
            .withColumn("_gidx", F.create_map(*idx_pairs)[F.col("highest_granularity")])
            .persist()
        )

        # derived streams: materialized ones (points_derived) contribute
        # their stored latest versions; pure views are recomputed. Both
        # collects are bounded by the derived-stream count.
        derived_meta = [
            r.asDict(recursive=True)
            for r in sel.filter(F.col("derive_op").isNotNull()).drop("_gidx").collect()
        ]
        derived_view = self._derived_points(derived_meta, exclude_materialized=True)

        raw = self.tables.read_points_raw().select(
            "stream_id", "ts", "value", "value_nominal"
        )
        # incremental scan bound: buckets before a stream's watermark are
        # final, and all per-granularity watermarks are floors of the same
        # clamped instant, so the coarsest ('days') entry is each stream's
        # minimum. The min across selected data-bearing streams is a single
        # conservative filter that reaches the parquet scan and prunes
        # p_date partitions.
        # Streams with no watermark fall back to their own earliest_ts (a
        # new stream needs everything from its first point, nothing
        # before), so one watermark-less stream no longer reverts the run
        # to a full-history scan. Never-materialized pure views (earliest
        # null) bound at their sources' min earliest floored to the view's
        # granularity; views whose sources are all empty contribute no
        # points and are excluded from the bound.
        wm_days = F.col("downsampled_until").getItem("days")
        lb_src = sel.filter(
            (F.col("_gidx") < n_gran - 1)
            & (F.col("earliest_ts").isNotNull() | F.col("derive_op").isNotNull())
        )
        cand = F.coalesce(wm_days, F.col("earliest_ts"))
        missing = [
            m
            for m in derived_meta
            if (m["downsampled_until"] or {}).get("days") is None
            and m["earliest_ts"] is None
        ]
        if missing:
            src_ids = sorted(
                {
                    s
                    for m in missing
                    for s, role in derive_ops.source_roles(m)
                    if role == "data"
                }
            )
            src_earliest = {
                r["stream_id"]: r["earliest_ts"]
                for r in self._streams()
                .filter(F.col("stream_id").isin(src_ids))
                .select("stream_id", "earliest_ts")
                .collect()
            }
            vb_rows = []
            for m in missing:
                es = [
                    src_earliest.get(s)
                    for s, role in derive_ops.source_roles(m)
                    if role == "data" and src_earliest.get(s) is not None
                ]
                e = None
                if es:
                    e = BY_NAME[m["highest_granularity"]].round_timestamp(
                        min(x.replace(tzinfo=_UTC) if x.tzinfo is None else x for x in es)
                    )
                vb_rows.append((m["stream_id"], e))
            vb_df = F.broadcast(
                storage.local_rows_df(self.spark, vb_rows, "stream_id string, _vb timestamp")
            )
            lb_src = lb_src.join(vb_df, "stream_id", "left")
            cand = F.coalesce(wm_days, F.col("earliest_ts"), F.col("_vb"))
        lb = lb_src.agg(
            F.count(cand).alias("n_set"), F.min(cand).alias("low")
        ).collect()[0]
        low = None
        if lb["n_set"] > 0:
            low = lb["low"].replace(tzinfo=_UTC) if lb["low"].tzinfo is None else lb["low"]
            raw = raw.filter(F.col("ts") >= F.lit(low))

        pts = raw
        mat_derived = self.tables.read_points_derived().select(
            "stream_id", "ts", "value"
        )
        extra = [mat_derived]
        if derived_view is not None:
            extra.append(derived_view)
        for e in extra:
            e = e.withColumn("value_nominal", F.lit(None).cast("string"))
            if low is not None:
                e = e.filter(F.col("ts") >= F.lit(low))
            pts = pts.unionByName(e)

        # effective clamp instant per stream: its own latest datapoint (for
        # pure views: the max derived ts this run — bounded collect)
        eff = sel.withColumn("_eff", F.col("latest_ts"))
        if derived_view is not None:
            vb = [
                (r["stream_id"], r["mx"])
                for r in derived_view.groupBy("stream_id")
                .agg(F.max("ts").alias("mx"))
                .collect()
            ]
            if vb:
                vb_df = storage.local_rows_df(self.spark, vb, "stream_id string, _vmax timestamp")
                eff = (
                    eff.join(F.broadcast(vb_df), "stream_id", "left")
                    .withColumn("_eff", F.coalesce("_eff", "_vmax"))
                    .drop("_vmax")
                )

        # (finality for NON-sum multi-source ops — counter_derivative's
        # late reset — is handled reactively instead: append_multiple
        # rolls the derived stream's watermarks back when a source lands
        # below them, so those buckets recompute and re-upsert.)
        # a `sum` slot is final only once EVERY data source has passed it —
        # clamp the sum-derived effective instant to min(source latest_ts)
        # (NULL while any source is still empty). A lagging source that
        # rewrites an old slot then always lands at/after the watermark, so
        # the recomputed buckets are re-emitted as upserts instead of
        # points_agg silently diverging from the derived data. Collects are
        # bounded by derived-stream count + source fan-in.
        sum_metas = [m for m in derived_meta if m["derive_op"] == "sum"]
        if sum_metas:
            src_ids = sorted(
                {
                    src
                    for m in sum_metas
                    for src, role in derive_ops.source_roles(m)
                    if role == "data"
                }
            )
            src_lat = {
                r["stream_id"]: r["latest_ts"]
                for r in self._streams()
                .filter(F.col("stream_id").isin(src_ids))
                .select("stream_id", "latest_ts")
                .collect()
            }
            clamp = []
            for m in sum_metas:
                lts = [
                    src_lat.get(s)
                    for s, role in derive_ops.source_roles(m)
                    if role == "data"
                ]
                v = None if (not lts or any(x is None for x in lts)) else min(lts)
                clamp.append((m["stream_id"], v, True))
            clamp_df = storage.local_rows_df(
                self.spark, clamp, "stream_id string, _clamp timestamp, _is_sum boolean"
            )
            eff = (
                eff.join(F.broadcast(clamp_df), "stream_id", "left")
                .withColumn(
                    "_eff",
                    F.when(
                        F.coalesce("_is_sum", F.lit(False)),
                        # NULL clamp (an empty source) must yield NULL, so
                        # guard explicitly — F.least would skip the null
                        F.when(
                            F.col("_clamp").isNotNull() & F.col("_eff").isNotNull(),
                            F.least("_eff", "_clamp"),
                        ),
                    ).otherwise(F.col("_eff")),
                )
                .drop("_clamp", "_is_sum")
            )

        emitted = []
        prev_level: DataFrame | None = None
        levels: list[DataFrame] = []
        # skip levels finer than the finest selected stream: level i can
        # only carry rows for streams with _gidx < i, so every level at or
        # below min(_gidx) is structurally empty. Building it anyway costs
        # real driver time — the level plans are built through thousands
        # of py4j round trips (~20 s profiled for a full 6-level run), and
        # each empty level still pays a head(1) job + persist/unpersist.
        # One tiny job on the persisted `sel` buys the bound.
        min_gidx = sel.agg(F.min("_gidx")).collect()[0][0]
        if min_gidx is None:
            min_gidx = n_gran  # no streams selected — every level skips
        for i, g in enumerate(GRANULARITIES[1:], start=1):
            if i <= min_gidx:
                continue
            parts = []
            from_raw_ids = sel.filter(F.col("_gidx") == i - 1).select("stream_id")
            parts.append(
                ds_ops.downsample_raw(
                    pts.join(F.broadcast(from_raw_ids), "stream_id", "left_semi"),
                    g,
                    until_epoch,
                )
            )
            if prev_level is not None:
                roll_ids = sel.filter(F.col("_gidx") < i - 1).select("stream_id")
                parts.append(
                    ds_ops.rollup_agg(
                        prev_level.join(
                            F.broadcast(roll_ids), "stream_id", "left_semi"
                        ),
                        g,
                        until_epoch,
                    )
                )
            level = parts[0]
            for p in parts[1:]:
                level = p.unionByName(level)
            # keep the full level for the next rollup; persist only buckets
            # at/after each stream's watermark (re-emitted → upsert)
            level = level.persist()
            levels.append(level)
            wmk = sel.select(
                "stream_id",
                F.col("downsampled_until").getItem(g.name).alias("_wm"),
            )
            new_rows = (
                level.join(F.broadcast(wmk), "stream_id", "left")
                .filter(F.col("_wm").isNull() | (F.col("bucket_ts") >= F.col("_wm")))
                .drop("_wm")
            )
            if return_datapoints:
                # pin BEFORE the upsert and the watermark write below:
                # both mutate state a lazy recompute would re-read
                new_rows = new_rows.localCheckpoint(eager=True)
            if new_rows.head(1):
                self.tables.upsert_points_agg(new_rows)
                if return_datapoints:
                    emitted.append(new_rows)
            prev_level = level

        # advance per-stream watermarks: floor(min(until, own latest)) per
        # applicable granularity — one MERGE append, no collect
        eff_epoch = F.when(
            F.col("_eff").isNotNull(),
            F.least(F.lit(until_epoch).cast("long"), F.unix_timestamp("_eff")),
        )
        entries = []
        for j, g in enumerate(GRANULARITIES[1:], start=1):
            wm_new = F.timestamp_seconds(F.floor(eff_epoch / g.duration_s) * g.duration_s)
            wm = F.greatest(F.col("downsampled_until").getItem(g.name), wm_new)
            entries.append(
                F.when(
                    (F.col("_gidx") < j) & wm.isNotNull(),
                    F.struct(F.lit(g.name).alias("key"), wm.alias("value")),
                )
            )
        new_map = F.map_from_entries(
            F.filter(F.array(*entries), lambda x: x.isNotNull())
        )
        updated = (
            eff.withColumn(
                "_new_wm",
                F.when(F.size(new_map) > 0, new_map).otherwise(
                    F.col("downsampled_until")
                ),
            )
            .filter(F.col("_new_wm").isNotNull())
            .withColumn("downsampled_until", F.col("_new_wm"))
            .select(*[f.name for f in STREAMS_SCHEMA.fields])
        )
        if updated.head(1):
            self.tables.upsert_streams_df(updated)

        out = None
        if return_datapoints and emitted:
            out = emitted[0]
            for e in emitted[1:]:
                out = out.unionByName(e)
            # pieces were pinned at emission time (before the agg upsert
            # and watermark writes), so the union is safe as-is
        sel.unpersist()
        for lv in levels:
            lv.unpersist()
        return out
