"""The streams registry on its commit log with several writers: an
upsert racing a compaction is never lost (the compaction's overwrite
commit conflicts instead), and compaction keeps at most two
generations of registry files on disk."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from django_datastream_spark import storage
from django_datastream_spark import txnlog as TL
from django_datastream_spark.storage import Tables


def _row(sid: str) -> dict:
    return {
        "stream_id": sid,
        "value_type": "numeric",
        "highest_granularity": "seconds",
        "value_downsamplers": ["mean"],
        "time_downsamplers": ["first"],
        "tags": "{}",
        "tags_flat": {},
        "latest_ts": dt.datetime(2024, 1, 1),
    }


def _ids(t: Tables) -> set[str]:
    return {r["stream_id"] for r in t.read_streams().collect()}


def _rival_upsert_after_read(monkeypatch, a: Tables, b: Tables, sid: str):
    """Make ``b`` upsert ``sid`` right after ``a``'s next registry read
    (its compaction's) and before ``a`` lands its rewrite."""
    read = a.read_streams_log

    def read_then_rival_upserts(*args, **kwargs):
        monkeypatch.setattr(a, "read_streams_log", read)  # one shot
        df = read(*args, **kwargs)
        b.upsert_streams([_row(sid)])
        return df

    monkeypatch.setattr(a, "read_streams_log", read_then_rival_upserts)


def test_compaction_racing_an_upsert_keeps_its_row(spark, tmp_path, monkeypatch):
    """Engine B upserts while engine A's compaction sits between its read
    and its commit: B's row survives, and a re-run compaction keeps it."""
    root = str(tmp_path / "store")
    a, b = Tables(spark, root), Tables(spark, root)
    a.upsert_streams([_row("a0"), _row("a1")])
    a.upsert_streams([_row("a2")])
    _rival_upsert_after_read(monkeypatch, a, b, "b")
    try:
        a.compact_streams()
    except TL.CommitConflictError:
        pass  # the rival upsert landed first; compaction is re-run later
    assert _ids(b) == {"a0", "a1", "a2", "b"}
    a.compact_streams()  # re-run against the new snapshot
    assert _ids(Tables(spark, root)) == {"a0", "a1", "a2", "b"}


def test_upsert_skips_compaction_that_loses_the_race(
    spark, tmp_path, monkeypatch
):
    """An upsert whose implicit compaction loses the race returns
    normally: its own row landed, the rival's row is kept."""
    monkeypatch.setattr(storage, "_STREAMS_COMPACT_AT", 2)
    root = str(tmp_path / "store")
    a, b = Tables(spark, root), Tables(spark, root)
    a.upsert_streams([_row("a0")])
    a.upsert_streams([_row("a1")])
    _rival_upsert_after_read(monkeypatch, a, b, "b")
    # a's third upsert compacts; b's upsert (which compacts in turn)
    # lands between a's read and a's commit, so a's commit conflicts
    a.upsert_streams([_row("a2")])
    ops = [r["op"] for r in TL.txn_history(spark, a.streams_path).collect()]
    assert ops.count("overwrite") == 1
    assert _ids(a) == {"a0", "a1", "a2", "b"}


def test_upsert_versioned_before_a_compaction_still_wins(
    spark, tmp_path, monkeypatch
):
    """Engine B draws its row version, engine A's compaction lands, then
    B's append commits: B's newer row must still win over the compacted
    one (compaction keeps each live row's own version)."""
    root = str(tmp_path / "store")
    a, b = Tables(spark, root), Tables(spark, root)
    a.upsert_streams([dict(_row("x"), tags="old")])
    a.upsert_streams([_row("y")])
    append = b._append_streams

    def compact_then_append(df):
        a.compact_streams()
        append(df)

    monkeypatch.setattr(b, "_append_streams", compact_then_append)
    b.upsert_streams([dict(_row("x"), tags="new")])
    ops = [r["op"] for r in TL.txn_history(spark, a.streams_path).collect()]
    assert "overwrite" in ops
    rows = {r["stream_id"]: r["tags"] for r in a.read_streams().collect()}
    assert rows == {"x": "new", "y": "{}"}


def test_compactions_bound_disk_and_reclaim_old_versions(
    spark, tmp_path, monkeypatch
):
    """Two compactions leave at most two generations of registry files,
    and a version whose files were reclaimed raises ValueError."""
    n = 4
    monkeypatch.setattr(storage, "_STREAMS_COMPACT_AT", n)
    t = Tables(spark, str(tmp_path / "store"))
    compactions = []
    for i in range(2 * (n + 1)):
        t.upsert_streams([_row(f"s{i % 3}")])
        head = TL.latest_version(t.streams_path)
        if TL._read_commit(t.streams_path, head)["op"] == "overwrite":
            compactions.append(head)
    assert len(compactions) == 2
    on_disk = sum(
        name.endswith(".parquet")
        for _d, _s, names in os.walk(t.streams_path)
        for name in names
    )
    assert on_disk <= 2 * (n + 1)
    # the second compaction deleted the files the first one removed:
    # versions before the first compaction are gone, later ones read
    assert compactions[0] in t.snapshot_versions("streams")
    assert t.read_table_at("streams", compactions[0]).count() == 3
    with pytest.raises(ValueError, match="not in log"):
        t.read_table_at("streams", 1)
    assert _ids(t) == {"s0", "s1", "s2"}
