"""The core engine's hottest table on the transactional layer:
``Tables.TXN_POINTS = True`` routes points_raw appends/reads/compaction
through the commit log (ACID, multi-writer-safe, commit-granular time
travel) while every engine behavior stays identical to the plain path.
"""

from __future__ import annotations

import datetime as dt

import pytest

from django_datastream_spark import txnlog as TL
from django_datastream_spark.api import Datastream

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 3, 1, tzinfo=UTC)


def ts(i: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=i)


@pytest.fixture()
def engine(spark, tmp_path) -> Datastream:
    e = Datastream(spark, str(tmp_path / "store"))
    e.tables.TXN_POINTS = True
    return e


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
    append is its own time-travelable version (the plain path only
    keeps SNAPSHOT_RETAIN rewrite generations)."""
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
    """Under TXN_AGG, points_agg versions are commit versions too: the
    first downsample's commit stays readable after a second one."""
    engine.tables.TXN_AGG = True
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
    """StreamingIngest writes through append_points_raw, so with
    TXN_POINTS each micro-batch is its own log commit — validation,
    rejects and metadata advance behave identically."""
    import json
    import os

    from django_datastream_spark.streaming.ingest import StreamingIngest

    def iso(i):
        return (T0 + dt.timedelta(seconds=i)).strftime(
            "%Y-%m-%dT%H:%M:%S.000Z"
        )

    e = Datastream(spark, str(tmp_path / "store"))
    e.tables.TXN_POINTS = True
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
def test_agg_upserts_are_snapshot_isolated_commits(spark, tmp_path):
    """TXN_AGG: downsample → append more → downsample again (the
    watermark-tail bucket recomputes = a conflicted upsert). The txn
    engine's aggregates match a plain engine's exactly, and the
    conflicted upsert shows up as one ``overwrite`` commit."""
    def build(root, txn):
        e = Datastream(spark, root)
        if txn:
            e.tables.TXN_POINTS = True
            e.tables.TXN_AGG = True
        sid = e.ensure_stream(
            {"title": "x"}, highest_granularity="seconds"
        )
        e.append_multiple(
            [
                {"stream_id": sid, "timestamp": ts(i), "value": float(i)}
                for i in range(90)
            ]
        )
        e.downsample_streams(until=ts(90))
        e.append_multiple(
            [
                {"stream_id": sid, "timestamp": ts(90 + i),
                 "value": float(i)}
                for i in range(90)
            ]
        )
        e.downsample_streams(until=ts(3600))
        return e, sid

    plain, sid_p = build(str(tmp_path / "plain"), txn=False)
    txn, sid_t = build(str(tmp_path / "txn"), txn=True)

    def aggs(e, sid):
        return [
            (r["t"]["mean"], r["v"]["mean"], r["v"]["count"])
            for r in e.get_data(
                sid, "minutes",
                value_downsamplers=["mean", "count"],
                time_downsamplers=["mean"],
            )
        ]

    assert aggs(plain, sid_p) == aggs(txn, sid_t)
    ops = [
        r["op"]
        for r in TL.txn_history(
            spark, txn.tables.points_agg_path
        ).collect()
    ]
    assert "overwrite" in ops  # the tail-bucket recompute
    assert "append" in ops


def test_mode_flip_adopts_existing_plain_store(spark, tmp_path):
    """Turning txn mode ON over an EXISTING plain store (the
    SPARK_GRAFT_TXN=1 upgrade path) must adopt the committed files on
    the FIRST READ — not silently show an empty table until the first
    append triggers adoption — and subsequent appends commit through
    the log on top of the adopted history."""
    plain = Datastream(spark, str(tmp_path / "store"))
    sid = _ingest(plain, n=50)
    agg_rows_before = plain.tables.read_points_agg().count()

    upgraded = Datastream(spark, str(tmp_path / "store"))
    upgraded.tables.TXN_POINTS = True
    upgraded.tables.TXN_AGG = True
    # read BEFORE any write: the adoption commit must happen here
    got = [
        p["v"] for p in upgraded.get_data(sid, "seconds")
    ]
    assert got == [float(i) for i in range(50)]
    assert TL.is_txn_table(upgraded.tables.points_raw_path)
    # agg table adopts on read too (empty or not)
    assert upgraded.tables.read_points_agg().count() == agg_rows_before

    # post-flip appends are log commits over the adopted base
    v0 = TL.latest_version(upgraded.tables.points_raw_path)
    upgraded.append_multiple(
        [{"stream_id": sid, "timestamp": ts(50), "value": 50.0}]
    )
    assert TL.latest_version(upgraded.tables.points_raw_path) > v0
    got = [p["v"] for p in upgraded.get_data(sid, "seconds")]
    assert got == [float(i) for i in range(51)]
