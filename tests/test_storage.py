"""Storage-layer behavior: streams-registry auto-compaction and seq plumbing
(SURVEY §1.3 / T4-T5 scale notes)."""

from __future__ import annotations
import pytest

import datetime as dt
import os

from pyspark.sql import functions as F

from django_datastream_spark import storage
from django_datastream_spark import txnlog as TL
from django_datastream_spark.storage import Tables
from django_datastream_spark.streaming.ingest import _batch_seq_col

UTC = dt.timezone.utc


def _row(i: int) -> dict:
    return {
        "stream_id": "s1",
        "value_type": "numeric",
        "highest_granularity": "seconds",
        "value_downsamplers": ["mean"],
        "time_downsamplers": ["first"],
        "derived_from": None,
        "derive_op": None,
        "derive_args": None,
        "tags": "{}",
        "tags_flat": {},
        "earliest_ts": None,
        "latest_ts": dt.datetime(2024, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=i),
        "downsampled_until": None,
    }


def _parquet_files(root: str) -> int:
    return sum(
        n.endswith(".parquet") for _d, _s, names in os.walk(root) for n in names
    )


def test_streams_log_autocompacts_and_reads_stay_correct(
    spark, tmp_path, monkeypatch
):
    """40 single-row upserts must not leave 40 live log files behind: the
    registry auto-compacts past _STREAMS_COMPACT_AT live files, reads
    keep resolving the latest version, the version history collapses to
    the live set, and disk keeps at most two generations."""
    monkeypatch.setattr(storage, "_STREAMS_COMPACT_AT", 12)
    t = Tables(spark, str(tmp_path / "store"))
    for i in range(40):
        t.upsert_streams([_row(i)])
    _, live_files = TL.snapshot(t.streams_path)
    assert len(live_files) <= 12 + 1
    assert _parquet_files(t.streams_path) <= 2 * (12 + 1)
    live = t.read_streams().collect()
    assert len(live) == 1
    # latest upsert wins after however many compactions happened
    assert live[0]["latest_ts"] == dt.datetime(2024, 1, 1) + dt.timedelta(seconds=39)
    # log itself is bounded too (live rows + post-compaction appends)
    assert t.read_streams_log().count() <= 12 + 1
    # an explicit compaction collapses the log to one file
    t.compact_streams()
    assert len(TL.snapshot(t.streams_path)[1]) == 1
    assert t.read_streams().collect()[0]["latest_ts"] == live[0]["latest_ts"]


def test_batch_seq_assignment_is_not_single_partition(spark):
    """The per-batch seq window must partition by stream (parallel hash
    exchange), never a global single-partition sort."""
    rows = [
        ("s%d" % (i % 4), dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i))
        for i in range(16)
    ]
    df = spark.createDataFrame(rows, "stream_id string, ts timestamp")
    out = df.withColumn("seq", _batch_seq_col(1000))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(stream_id" in plan
    # per-stream seqs are unique and ts-ordered
    got = out.collect()
    by_stream: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r["stream_id"], r["ts"])):
        by_stream.setdefault(r["stream_id"], []).append(r["seq"])
    for seqs in by_stream.values():
        assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def _agg_row(sid: str, gran: str, bucket: dt.datetime, mean: float) -> dict:
    v = {
        "mean": mean, "sum": mean, "min": mean, "max": mean,
        "sum_squares": mean * mean, "std_dev": 0.0, "count": 1,
        "frequencies": None, "most_often": None, "least_often": None,
    }
    t = {"first": bucket, "last": bucket, "mean": bucket}
    return {
        "stream_id": sid, "granularity": gran, "bucket_ts": bucket,
        "v": v, "t": t, "t_sum_epoch": int(bucket.timestamp()),
    }


@pytest.mark.slow
def test_upsert_points_agg_appends_unless_keys_collide(spark, tmp_path):
    """Write-amplification bound: an upsert batch that only ADDS new
    buckets must append files (existing files survive byte-identical, no
    partition rewrite); only batches that REPLACE an existing bucket
    rewrite — and only the conflicted (granularity, p_date) partitions.
    Driven for 20 micro-batches with periodic tail-bucket recomputes, the
    auto_downsample write pattern."""
    from django_datastream_spark.storage import POINTS_AGG_SCHEMA, Tables

    t = Tables(spark, str(tmp_path / "store"))
    base = dt.datetime(2024, 1, 1, tzinfo=UTC)

    def upsert(rows):
        t.upsert_points_agg(spark.createDataFrame(rows, POINTS_AGG_SCHEMA))

    def files():
        out = set()
        for dirpath, _dirs, names in os.walk(t.points_agg_path):
            rel = os.path.relpath(dirpath, t.points_agg_path)
            out |= {os.path.join(rel, n) for n in names if n.endswith(".parquet")}
        return out

    # seed a second granularity whose partition must NEVER be touched
    upsert([_agg_row("s", "days", base, 0.5)])
    days_files = {f for f in files() if "granularity=days" in f}
    rewrites = 0
    for i in range(20):
        before = files()
        batch = [_agg_row("s", "hours", base + dt.timedelta(hours=i), float(i))]
        replaced = i > 0 and i % 5 == 0
        if replaced:  # recompute the previous (watermark-tail) bucket
            batch.append(
                _agg_row("s", "hours", base + dt.timedelta(hours=i - 1), 100.0 + i)
            )
        upsert(batch)
        after = files()
        if replaced:
            rewrites += 1
        else:
            assert before <= after, f"batch {i}: pure-add batch rewrote files"
        # the other-granularity partition is never rewritten by any batch
        assert {f for f in after if "granularity=days" in f} == days_files
    assert rewrites == 3
    # correctness through it all: one row per bucket, latest emission wins
    got = {
        r["bucket_ts"]: r["v"]["mean"]
        for r in t.read_points_agg().filter(F.col("granularity") == "hours").collect()
    }
    assert len(got) == 20
    for i in range(20):
        expect = float(i)
        for j in (5, 10, 15):
            if i == j - 1:
                expect = 100.0 + j
        assert got[base.replace(tzinfo=None) + dt.timedelta(hours=i)] == expect


def test_time_travel_reads_prior_snapshot(spark, tmp_path):
    """read_table_at on the streams registry: every upsert and every
    compaction is a commit version; each reads back exactly the log
    state as of that commit, versions never committed raise."""
    t = Tables(spark, str(tmp_path / "store"))
    t.upsert_streams([dict(_row(0), stream_id=f"s{i}") for i in range(5)])
    v_first = TL.latest_version(t.streams_path)
    t.upsert_streams([dict(_row(0), stream_id=f"s{i}") for i in range(5, 8)])
    t.compact_streams()
    v_compacted = TL.latest_version(t.streams_path)
    assert v_compacted > v_first
    t.delete_streams_rows(["s0", "s1", "s2"])
    v_deleted = TL.latest_version(t.streams_path)

    assert t.read_table_at("streams", v_first).count() == 5
    # the compaction collapsed 8 log rows into the 8 live streams
    assert t.read_table_at("streams", v_compacted).count() == 8
    # the tombstones landed on top of the compacted snapshot
    assert t.read_table_at("streams", v_deleted).count() == 11
    assert t.read_streams().count() == 5
    assert {v_first, v_compacted, v_deleted} <= set(
        t.snapshot_versions("streams")
    )

    # a version never committed raises
    with pytest.raises(ValueError):
        t.read_table_at("streams", 999)


def test_local_rows_df_is_arrow_local_and_faithful(spark):
    """Every bounded driver-side frame must be an Arrow LocalTableScan,
    never a pickled-RDD ExistingRDD scan: an ExistingRDD inside a WRITE
    plan (even as a broadcast join input) costs a fresh Python worker
    per task (~5 s/write measured in this container; BENCH_NOTES.md
    round 6). Pins plan shape AND value fidelity for the tricky types
    the metadata tables carry (arrays, maps, tz-aware + naive
    timestamps, None)."""
    import datetime as dt

    from django_datastream_spark.storage import (
        STREAMS_LOG_SCHEMA,
        local_rows_df,
    )

    utc = dt.timezone.utc
    rows = [
        {
            "stream_id": "s1",
            "value_type": "numeric",
            "highest_granularity": "hours",
            "value_downsamplers": ["mean", "count"],
            "time_downsamplers": ["mean"],
            "derived_from": None,
            "derive_op": None,
            "derive_args": None,
            "tags": "{}",
            "tags_flat": {"title": "x"},
            "earliest_ts": dt.datetime(2024, 1, 1, tzinfo=utc),
            "latest_ts": None,
            "downsampled_until": {"days": dt.datetime(2024, 1, 2)},
            "_v": 7,
            "_deleted": False,
        }
    ]
    df = local_rows_df(spark, rows, STREAMS_LOG_SCHEMA)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    got = df.collect()[0].asDict(recursive=True)
    assert got["value_downsamplers"] == ["mean", "count"]
    assert got["tags_flat"] == {"title": "x"}
    assert got["earliest_ts"] == dt.datetime(2024, 1, 1)
    assert got["latest_ts"] is None
    assert got["downsampled_until"] == {"days": dt.datetime(2024, 1, 2)}
    assert got["_v"] == 7 and got["_deleted"] is False

    # tuple rows + string schema + empty input
    t = local_rows_df(
        spark, [("a", 1), ("b", None)], "k string, n long"
    )
    assert "LocalTableScan" in t._jdf.queryExecution().executedPlan().toString()
    assert [(r["k"], r["n"]) for r in t.collect()] == [("a", 1), ("b", None)]
    empty = local_rows_df(spark, [], "k string, n long")
    assert empty.count() == 0 and [f.name for f in empty.schema.fields] == ["k", "n"]


def test_local_rows_df_is_single_partition(spark):
    """r12: bounded driver-side metadata frames must not fan out — Arrow
    createDataFrame slices any pandas frame into defaultParallelism
    chunks, which turned every metadata write that embedded one into a
    many-task job emitting near-empty files (a 372-row engine append
    staged 60 files). One partition is the contract; distributed
    fan-outs repartition explicitly on top."""
    from django_datastream_spark.storage import local_rows_df

    df = local_rows_df(
        spark, [(f"s{i}",) for i in range(500)], "stream_id string"
    )
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 500
