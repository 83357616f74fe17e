"""Storage-layer behavior: streams-log auto-compaction and seq plumbing
(SURVEY §1.3 / T4-T5 scale notes)."""

from __future__ import annotations
import pytest

import datetime as dt
import os

from pyspark.sql import functions as F

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


def test_streams_log_autocompacts_and_reads_stay_correct(spark, tmp_path):
    """100 single-row upserts must not leave 100 log files behind: the log
    auto-compacts past STREAMS_LOG_MAX_FILES, reads keep resolving the
    latest version, and the version history collapses to the live set."""
    t = Tables(spark, str(tmp_path / "store"))
    t.STREAMS_LOG_MAX_FILES = 12  # lower the knob so the test stays fast
    for i in range(40):
        t.upsert_streams([_row(i)])
    n_files = sum(
        1 for f in os.listdir(t.streams_path) if f.endswith(".parquet")
    )
    assert n_files <= t.STREAMS_LOG_MAX_FILES + 1
    live = t.read_streams().collect()
    assert len(live) == 1
    # latest upsert wins after however many compactions happened
    assert live[0]["latest_ts"] == dt.datetime(2024, 1, 1) + dt.timedelta(seconds=39)
    # log itself is bounded too (live rows + post-compaction appends)
    assert t.read_streams_log().count() <= t.STREAMS_LOG_MAX_FILES + 1


def test_streams_log_auto_compaction_can_be_disabled(spark, tmp_path):
    """Multi-writer deployments disable implicit compaction (single-writer
    snapshot swap would drop a concurrent appender's rows): with the flag
    off, upserts never swap the version dir, and an explicit
    compact_streams() from the owning process still works."""
    t = Tables(spark, str(tmp_path / "store"))
    t.STREAMS_LOG_MAX_FILES = 4
    t.auto_compact_streams = False
    for i in range(12):
        t.upsert_streams([_row(i)])
    assert t._current_version("streams") == 0  # no implicit swap happened
    live = t.read_streams().collect()
    assert len(live) == 1
    assert live[0]["latest_ts"] == dt.datetime(2024, 1, 1) + dt.timedelta(seconds=11)
    t.compact_streams()  # explicit, from the quiesced owner
    assert t._current_version("streams") == 1
    n_files = sum(1 for f in os.listdir(t.streams_path) if f.endswith(".parquet"))
    assert n_files == 1
    assert t.read_streams().collect()[0]["latest_ts"] == dt.datetime(
        2024, 1, 1
    ) + dt.timedelta(seconds=11)


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
    """Snapshot retention + read_table_at on the streams registry (the
    one table still on snapshot generations): each log compaction cuts
    a version; retained versions read back exactly as of their cut,
    versions never cut raise."""
    t = Tables(spark, str(tmp_path / "store"))
    t.SNAPSHOT_RETAIN = 3
    t.upsert_streams([dict(_row(0), stream_id=f"s{i}") for i in range(5)])
    # rewrite boundary #1: compaction cuts a new streams version
    t.compact_streams()
    v_after_first = t._current_version("streams")
    assert t.read_table_at("streams", v_after_first).count() == 5

    t.upsert_streams([dict(_row(0), stream_id=f"s{i}") for i in range(5, 8)])
    # rewrite boundary #2
    t.compact_streams()
    v_now = t._current_version("streams")
    assert v_now > v_after_first
    # current snapshot has all 8 streams; the prior generation is
    # retained — its compacted rows plus the upserts that landed in it
    # before the next cut
    assert t.read_streams().count() == 8
    assert v_after_first in t.snapshot_versions("streams")
    assert t.read_table_at("streams", v_after_first).count() == 8

    # boundary #3 compacts tombstones away; v_now keeps its log state
    # (8 compacted rows + the 3 tombstones that landed in it)
    t.delete_streams_rows(["s0", "s1", "s2"])
    t.compact_streams()
    assert t.read_streams().count() == 5
    assert t.read_table_at("streams", v_now).count() == 11
    assert t.snapshot_versions("streams") == [v_after_first, v_now, v_now + 1]

    # a version never cut raises
    with pytest.raises(ValueError):
        t.read_table_at("streams", 999)


def test_snapshot_retention_vacuums_old_generations(spark, tmp_path):
    """With the default SNAPSHOT_RETAIN=2, three rewrites leave exactly
    the newest two generations on disk (reader-safety unchanged)."""
    t = Tables(spark, str(tmp_path / "store"))
    for i in range(3):
        rows = [{"stream_id": f"s{i}", "title": f"t{i}", "v": i}]
        df = spark.createDataFrame([(f"s{i}", f"t{i}", i)], "stream_id string, title string, v long")
        t._swap_version("demo", lambda d, df=df: df.write.parquet(d))
    vs = t.snapshot_versions("demo")
    assert len(vs) == 2 and vs[-1] == t._current_version("demo")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read_table_at("demo", vs[0] - 1)


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
