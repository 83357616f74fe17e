"""The engine's point tables on the transactional layer: points_raw,
points_agg and points_derived appends, upserts, compaction and vacuum
are commits on their logs (ACID, multi-writer-safe, snapshot-isolated
readers, commit-granular time travel).
"""

from __future__ import annotations

import datetime as dt
import re

import pytest

from django_datastream_spark import txnlog as TL
from django_datastream_spark.api import Datastream

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 3, 1, tzinfo=UTC)


def ts(i: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=i)


@pytest.fixture()
def engine(spark, tmp_path) -> Datastream:
    return Datastream(spark, str(tmp_path / "store"))


def _ingest(engine, n=120):
    sid = engine.ensure_stream(
        {"title": "txn"}, highest_granularity="seconds"
    )
    engine.append_multiple(
        [
            {"stream_id": sid, "timestamp": ts(i), "value": float(i)}
            for i in range(n)
        ]
    )
    return sid


@pytest.mark.slow
def test_engine_hot_path_on_txn_table(engine):
    """append → get_data → downsample → aggregate: identical behavior,
    but every points_raw write is a log commit."""
    sid = _ingest(engine)
    root = engine.tables.points_raw_path
    assert TL.is_txn_table(root)
    assert TL.latest_version(root) >= 1
    got = list(engine.get_data(sid, "seconds", start=ts(0), end=ts(119)))
    assert len(got) == 120 and got[0]["v"] == 0.0
    engine.downsample_streams(until=ts(3600))
    rows = list(
        engine.get_data(
            sid, "minutes", start=ts(0), end=ts(119),
            value_downsamplers=["mean", "count"],
        )
    )
    assert [r["v"]["count"] for r in rows] == [60, 60]
    assert rows[0]["v"]["mean"] == pytest.approx(sum(range(60)) / 60)


def test_engine_compaction_is_optimize_commit(engine):
    """compact_points_raw becomes a txn OPTIMIZE: same reads, commit
    recorded, superseded files reclaimed by engine vacuum."""
    sid = _ingest(engine, n=50)
    # several appends -> several small files in one p_date partition
    for j in range(3):
        engine.append_multiple(
            [
                {"stream_id": sid, "timestamp": ts(50 + 10 * j + i),
                 "value": 1.0}
                for i in range(10)
            ]
        )
    before = len(list(engine.get_data(sid, "seconds", start=ts(0), end=ts(200))))
    n = engine.tables.compact_points_raw(target_file_bytes=1 << 30)
    assert n >= 2  # compacted something
    ops = {
        r["op"]
        for r in TL.txn_history(
            engine.spark, engine.tables.points_raw_path
        ).collect()
    }
    assert "optimize" in ops
    assert len(list(engine.get_data(sid, "seconds", start=ts(0), end=ts(200)))) == before


def test_engine_vacuum_uses_deletion_vectors(engine):
    """delete_streams + vacuum: dead-stream rows die by deletion
    vectors (no partition rewrite) and superseded files get swept."""
    sid = _ingest(engine, n=30)
    sid2 = engine.ensure_stream(
        {"title": "dead"}, highest_granularity="seconds"
    )
    engine.append_multiple(
        [
            {"stream_id": sid2, "timestamp": ts(i), "value": 9.0}
            for i in range(30)
        ]
    )
    engine.delete_streams({"title": "dead"})
    engine.vacuum()
    ops = {
        r["op"]
        for r in TL.txn_history(
            engine.spark, engine.tables.points_raw_path
        ).collect()
    }
    assert "delete" in ops
    raw = engine.tables.read_points_raw()
    assert raw.filter(raw.stream_id == sid2).count() == 0
    assert raw.filter(raw.stream_id == sid).count() == 30


def test_engine_time_travel_is_commit_granular(engine):
    """snapshot_versions/read_table_at run over the commit log: every
    append is its own time-travelable version."""
    sid = _ingest(engine, n=10)
    engine.append_multiple(
        [
            {"stream_id": sid, "timestamp": ts(10 + i), "value": 1.0}
            for i in range(10)
        ]
    )
    vs = engine.tables.snapshot_versions("points_raw")
    assert len(vs) >= 2
    first_commit = engine.tables.read_table_at("points_raw", vs[0])
    now = engine.tables.read_points_raw()
    assert first_commit.count() < now.count() == 20
    with pytest.raises(ValueError):
        engine.tables.read_table_at("points_raw", 999)


def test_agg_time_travel_is_commit_granular(engine):
    """points_agg versions are commit versions too: the first
    downsample's commit stays readable after a second one."""
    sid = _ingest(engine, n=90)
    engine.downsample_streams(until=ts(90))
    engine.append_multiple(
        [
            {"stream_id": sid, "timestamp": ts(90 + i), "value": 1.0}
            for i in range(90)
        ]
    )
    engine.downsample_streams(until=ts(3600))
    vs = engine.tables.snapshot_versions("points_agg")
    assert vs == list(
        range(1, TL.latest_version(engine.tables.points_agg_path) + 1)
    )
    assert len(vs) >= 2
    first = engine.tables.read_table_at("points_agg", vs[0]).count()
    now = engine.tables.read_points_agg().count()
    assert 0 < first < now
    with pytest.raises(ValueError, match="not in log"):
        engine.tables.read_table_at("points_agg", 999)


def test_streaming_ingest_lands_as_commits(spark, tmp_path):
    """StreamingIngest writes through append_points_raw, so each
    micro-batch is its own log commit — validation, rejects and
    metadata advance behave identically."""
    import json
    import os

    from django_datastream_spark.streaming.ingest import StreamingIngest

    def iso(i):
        return (T0 + dt.timedelta(seconds=i)).strftime(
            "%Y-%m-%dT%H:%M:%S.000Z"
        )

    e = Datastream(spark, str(tmp_path / "store"))
    sid = e.ensure_stream({"title": "s"})
    src = str(tmp_path / "incoming")
    ing = StreamingIngest(e, src, str(tmp_path / "cp"))
    os.makedirs(src, exist_ok=True)
    for b, rows in enumerate(
        (
            [
                {"stream_id": sid, "ts": iso(0), "value": 1.0},
                {"stream_id": sid, "ts": iso(1), "value": 2.0},
            ],
            [
                {"stream_id": sid, "ts": iso(1), "value": 9.0},  # replay
                {"stream_id": sid, "ts": iso(5), "value": 5.0},
            ],
        )
    ):
        with open(f"{src}/b{b}.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        ing.run_available()
    pts = list(e.get_data(sid, "seconds"))
    assert [p["v"] for p in pts] == [1.0, 2.0, 5.0]
    hist = TL.txn_history(spark, e.tables.points_raw_path).collect()
    appends = [r for r in hist if r["op"] == "append"]
    assert len(appends) == 2  # one commit per micro-batch


@pytest.mark.slow
def test_agg_upserts_are_snapshot_isolated_commits(engine):
    """downsample → append more → downsample again (the watermark-tail
    bucket recomputes = a conflicted upsert): the aggregates are exact,
    and the conflicted upsert lands its rebuilt partition and fresh
    buckets as ONE ``overwrite`` commit."""
    sid = engine.ensure_stream({"title": "x"}, highest_granularity="seconds")
    points = [(i, float(i)) for i in range(90)]
    engine.append_multiple(
        [{"stream_id": sid, "timestamp": ts(i), "value": v} for i, v in points]
    )
    engine.downsample_streams(until=ts(90))
    more = [(90 + i, float(i)) for i in range(90)]
    engine.append_multiple(
        [{"stream_id": sid, "timestamp": ts(i), "value": v} for i, v in more]
    )
    engine.downsample_streams(until=ts(3600))

    by_minute: dict[int, list] = {}
    for i, v in points + more:
        by_minute.setdefault(i // 60, []).append((i, v))
    want = [
        (  # t.mean carries whole epoch seconds
            ts(sum(i for i, _ in pts) // len(pts)).replace(tzinfo=None),
            sum(v for _, v in pts) / len(pts),
            len(pts),
        )
        for _, pts in sorted(by_minute.items())
    ]
    got = [
        (r["t"]["mean"], r["v"]["mean"], r["v"]["count"])
        for r in engine.get_data(
            sid, "minutes",
            value_downsamplers=["mean", "count"],
            time_downsamplers=["mean"],
        )
    ]
    assert got == want
    ops = [
        r["op"]
        for r in TL.txn_history(
            engine.spark, engine.tables.points_agg_path
        ).collect()
    ]
    assert "overwrite" in ops  # the tail-bucket recompute
    assert "append" in ops


def test_conflicted_agg_upsert_keeps_planned_readers(spark, tmp_path):
    """A conflicted aggregate upsert is ONE overwrite commit carrying the
    rebuilt partition AND the batch's fresh buckets: a reader planned
    before it still collects its full pre-upsert snapshot, the
    replacement wins afterwards, and the untouched days partition keeps
    its files."""
    from pyspark.sql import functions as F

    from django_datastream_spark.storage import POINTS_AGG_SCHEMA, Tables

    t = Tables(spark, str(tmp_path / "store"))
    base = T0.replace(tzinfo=None)
    sid = "s"

    def row(gran, hour, mean):
        b = base + dt.timedelta(hours=hour)
        v = {
            "mean": mean, "sum": mean, "min": mean, "max": mean,
            "sum_squares": mean * mean, "std_dev": 0.0, "count": 1,
            "frequencies": None, "most_often": None, "least_often": None,
        }
        return (sid, gran, b, v, {"first": b, "last": b, "mean": b},
                int(b.replace(tzinfo=UTC).timestamp()))

    def upsert(rows):
        t.upsert_points_agg(spark.createDataFrame(rows, POINTS_AGG_SCHEMA))

    def hours(df):
        return {
            r["bucket_ts"]: r["v"]["mean"]
            for r in df.filter(F.col("granularity") == "hours").collect()
        }

    upsert([row("hours", i, float(i)) for i in range(4)] + [row("days", 0, 0.5)])
    _, files0 = TL.snapshot(t.points_agg_path)
    days_files = {f for f in files0 if "granularity=days" in f}
    reader = t.read_points_agg()  # planned against the pre-upsert snapshot
    v0 = TL.latest_version(t.points_agg_path)

    upsert([row("hours", 1, 100.0), row("hours", 4, 4.0)])
    ops = [
        r["op"]
        for r in TL.txn_history(spark, t.points_agg_path).collect()
        if r["version"] > v0
    ]
    assert ops == ["overwrite"]
    assert hours(reader) == {
        base + dt.timedelta(hours=i): float(i) for i in range(4)
    }
    want = {base + dt.timedelta(hours=i): float(i) for i in range(5)}
    want[base + dt.timedelta(hours=1)] = 100.0
    assert hours(t.read_points_agg()) == want
    _, files1 = TL.snapshot(t.points_agg_path)
    assert {f for f in files1 if "granularity=days" in f} == days_files


def test_time_travel_skips_vacuumed_versions(engine):
    """Two appends, an OPTIMIZE, then vacuum: the appends' files are
    reclaimed, so their versions are no longer listed and reading one
    raises ValueError (not a missing-path error from Spark)."""
    sid = _ingest(engine, n=10)
    engine.append_multiple(
        [
            {"stream_id": sid, "timestamp": ts(10 + i), "value": 1.0}
            for i in range(10)
        ]
    )
    assert engine.tables.compact_points_raw() == 2
    engine.vacuum()
    assert engine.tables.snapshot_versions("points_raw") == [3]
    with pytest.raises(ValueError, match="not in log"):
        engine.tables.read_table_at("points_raw", 1).count()
    assert engine.tables.read_table_at("points_raw", 3).count() == 20


def test_derived_replace_is_one_overwrite_commit(engine):
    """backprocess_streams(materialize=True, replace=True) rebuilds the
    touched p_date partitions as ONE overwrite commit: a ghost row is
    retracted, and a reader planned before the backfill still counts
    its own snapshot (the superseded files stay until vacuum)."""
    from pyspark.sql import functions as F

    src = engine.ensure_stream({"title": "src"})
    engine.append_multiple(
        [
            {"stream_id": src, "value": float(i), "timestamp": ts(i * 10)}
            for i in range(6)
        ]
    )
    d = engine.ensure_stream(
        {"title": "d"}, derive_from=[src], derive_op="derivative"
    )
    engine.backprocess_streams(materialize=True)
    ghost = ts(9999).replace(tzinfo=None)
    engine.tables.append_points_derived(
        engine.spark.createDataFrame(
            [(d, ghost, 1, 123.0)],
            "stream_id string, ts timestamp, seq long, value double",
        )
    )
    root = engine.tables.points_derived_path
    v0 = TL.latest_version(root)
    reader = engine.tables.read_points_derived(latest_only=False)
    n_before = reader.count()

    view = engine.backprocess_streams(materialize=True, replace=True)
    hist = TL.txn_history(engine.spark, root).collect()
    assert [r["op"] for r in hist if r["version"] > v0] == ["overwrite"]
    got = {
        (r["stream_id"], r["ts"], r["value"])
        for r in engine.tables.read_points_derived().collect()
    }
    assert got == {(r["stream_id"], r["ts"], r["value"]) for r in view.collect()}
    assert ghost not in {
        r["ts"]
        for r in engine.tables.read_points_derived()
        .filter(F.col("stream_id") == d)
        .collect()
    }
    assert reader.count() == n_before


def test_refuses_plain_store(spark, tmp_path):
    """A store left by the retired plain versioned-parquet layout (the
    point tables' or the streams registry's pointer-swap log) would read
    as empty; opening it raises instead, naming the table dir."""
    for table, marker in (
        ("streams", "_CURRENT"),
        ("streams", "v=1"),
        ("points_raw", "_CURRENT"),
        ("points_agg", "v=0"),
        ("points_derived", "v=3"),
    ):
        root = tmp_path / f"{table}-{marker}"
        plain = root / table
        plain.mkdir(parents=True)
        if marker == "_CURRENT":
            (plain / marker).write_text("0")
        else:
            (plain / marker).mkdir()
        with pytest.raises(ValueError, match=re.escape(str(plain))):
            Datastream(spark, str(root))
    # a points dir without the plain markers is not refused
    (tmp_path / "ok" / "points_raw").mkdir(parents=True)
    Datastream(spark, str(tmp_path / "ok"))
