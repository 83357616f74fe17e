"""Optimistic multi-writer concurrency (txnlog.py): CAS commits,
snapshot isolation, conflict detection, rebase, crash orphans, and
log-based time travel — plus merge_into(txn=True) integration."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from django_datastream_spark import txnlog as TL
from django_datastream_spark.operators.merge import merge_into


def _rows(spark, path, version=None):
    return {
        r["k"]: (str(r["p"]), r["v"])
        for r in TL.txn_read(spark, path, version=version).collect()
    }


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, p string, v double")


def test_append_commit_snapshot_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    v2 = TL.txn_append(spark, _df(spark, [(2, "b", 2.0)]), path, ["p"])
    assert (v1, v2) == (1, 2)
    assert _rows(spark, path) == {1: ("a", 1.0), 2: ("b", 2.0)}
    # time travel through the log
    assert _rows(spark, path, version=1) == {1: ("a", 1.0)}
    ver, files = TL.snapshot(path)
    assert ver == 2 and len(files) >= 2
    assert all(f.endswith(".parquet") for f in files)


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two writers race the SAME base version; the CAS makes one v1 and
    the other rebases to v2 — both rows committed, no lost update."""
    path = str(tmp_path / "t")
    TL.init_table(path)
    errs, vers = [], []

    def writer(i):
        try:
            vers.append(
                TL.txn_append(
                    spark, _df(spark, [(i, "a", float(i))]), path, ["p"]
                )
            )
        except Exception as e:  # noqa: BLE001 — surface in assert
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in (1, 2, 3, 4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert sorted(vers) == [1, 2, 3, 4]
    assert set(_rows(spark, path)) == {1, 2, 3, 4}


def test_lost_cas_race_rebases(spark, tmp_path, monkeypatch):
    """Simulate losing the create-exclusive race: another commit lands
    between reading head and linking — commit retries at the next
    version instead of failing or overwriting."""
    path = str(tmp_path / "t")
    v1 = TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    assert v1 == 1
    real = TL._raw_commit
    injected = {"done": False}

    def racy(table_root, v, payload):
        if not injected["done"]:
            injected["done"] = True
            real(
                table_root,
                v,
                {
                    "version": v,
                    "op": "append",
                    "adds": [],
                    "removes": [],
                    "partitions": [],
                    "writer": "rival",
                    "base_version": v - 1,
                },
            )
        return real(table_root, v, payload)

    monkeypatch.setattr(TL, "_raw_commit", racy)
    v = TL.commit(path, [], [], "append", [], base_version=1)
    assert v == 3  # rival took 2; we rebased


def test_merge_txn_basic_and_version(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        path,
        ["p"],
    )
    res = merge_into(
        spark,
        path,
        _df(spark, [(1, "a", 10.0), (3, "a", 3.0)]),
        ["k"],
        ["p"],
        txn=True,
    )
    assert res["version"] == 2 and res["rewritten_files"] == 1
    assert _rows(spark, path) == {
        1: ("a", 10.0), 2: ("b", 2.0), 3: ("a", 3.0),
    }
    # superseded file retained for old-snapshot readers, invisible now
    assert _rows(spark, path, version=1)[1] == ("a", 1.0)


def test_merge_conflict_same_partition_raises(spark, tmp_path, monkeypatch):
    """A rival commit into the merge's read partition lands between its
    snapshot read and its commit -> CommitConflictError, and the table
    still shows ONLY the rival's effect (our merge left no trace)."""
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    real = TL.stage_files
    rival_first = {"done": False}

    def inject(spark_, df, root, pcols, tag):
        adds = real(spark_, df, root, pcols, tag)
        if not rival_first["done"]:
            rival_first["done"] = True
            # rival appends key 9 into partition a AFTER our snapshot
            TL.txn_append(
                spark_, _df(spark_, [(9, "a", 9.0)]), path, ["p"]
            )
        return adds

    monkeypatch.setattr(TL, "stage_files", inject)
    with pytest.raises(TL.CommitConflictError):
        merge_into(
            spark, path, _df(spark, [(1, "a", 10.0)]), ["k"], ["p"], txn=True
        )
    monkeypatch.setattr(TL, "stage_files", real)
    assert _rows(spark, path) == {1: ("a", 1.0), 9: ("a", 9.0)}
    # the standard recovery: re-run the merge against the new snapshot
    res = merge_into(
        spark, path, _df(spark, [(1, "a", 10.0)]), ["k"], ["p"], txn=True
    )
    assert res["rewritten_files"] == 1
    assert _rows(spark, path)[1] == ("a", 10.0)
    # failed attempt's staged files are reclaimable orphans
    removed = TL.txn_vacuum(path)
    assert removed  # at least the conflicted original + failed stage
    assert _rows(spark, path) == {1: ("a", 10.0), 9: ("a", 9.0)}


def test_disjoint_partition_merges_both_land(spark, tmp_path, monkeypatch):
    """Merges rewriting DIFFERENT partitions serialize via rebase, not
    conflict — the multi-writer case partition-level OCC exists for."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark, _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path, ["p"]
    )
    real = TL.stage_files
    raced = {"done": False}

    def inject(spark_, df, root, pcols, tag):
        adds = real(spark_, df, root, pcols, tag)
        if not raced["done"]:
            raced["done"] = True
            # rival merge rewrites partition b between our read & commit
            merge_into(
                spark_, path, _df(spark_, [(2, "b", 20.0)]),
                ["k"], ["p"], txn=True,
            )
        return adds

    monkeypatch.setattr(TL, "stage_files", inject)
    res = merge_into(
        spark, path, _df(spark, [(1, "a", 10.0)]), ["k"], ["p"], txn=True
    )
    monkeypatch.setattr(TL, "stage_files", real)
    assert res["version"] == 3  # rebased over the rival's v2
    assert _rows(spark, path) == {1: ("a", 10.0), 2: ("b", 20.0)}


def test_crash_before_commit_invisible_and_vacuumable(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])

    def boom(*a, **k):
        raise RuntimeError("crash before log commit")

    monkeypatch.setattr(TL, "commit", boom)
    with pytest.raises(RuntimeError, match="crash"):
        merge_into(
            spark, path, _df(spark, [(1, "a", 99.0)]), ["k"], ["p"], txn=True
        )
    monkeypatch.undo()
    # staged output exists on disk but is not committed -> invisible
    assert _rows(spark, path) == {1: ("a", 1.0)}
    orphans = TL.txn_vacuum(path)
    assert orphans and all("txn-" in f for f in orphans)
    assert _rows(spark, path) == {1: ("a", 1.0)}
    # clean retry applies exactly once
    merge_into(
        spark, path, _df(spark, [(1, "a", 99.0)]), ["k"], ["p"], txn=True
    )
    assert _rows(spark, path) == {1: ("a", 99.0)}


def test_checkpoint_bounds_log_fold(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(TL.CHECKPOINT_EVERY + 3):
        TL.txn_append(spark, _df(spark, [(i, "a", float(i))]), path, ["p"])
    log = os.path.join(path, TL.TXN_DIR)
    cps = [n for n in os.listdir(log) if n.startswith("checkpoint-")]
    assert cps == [f"checkpoint-v{TL.CHECKPOINT_EVERY:010d}.json"]
    with open(os.path.join(log, cps[0])) as f:
        cp = json.load(f)
    assert cp["version"] == TL.CHECKPOINT_EVERY
    # snapshot equals the full fold, and time travel under the
    # checkpoint still works (folds from zero)
    assert len(_rows(spark, path)) == TL.CHECKPOINT_EVERY + 3
    assert len(_rows(spark, path, version=3)) == 3


def test_adopts_existing_plain_table(spark, tmp_path):
    path = str(tmp_path / "t")
    _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).write.partitionBy(
        "p"
    ).parquet(path)
    res = merge_into(
        spark, path, _df(spark, [(2, "b", 20.0)]), ["k"], ["p"], txn=True
    )
    assert res["version"] == 2  # v1 = adoption of the pre-txn files
    assert _rows(spark, path) == {1: ("a", 1.0), 2: ("b", 20.0)}


def test_rewrite_same_file_conflicts(spark, tmp_path):
    """Direct commit-level check: two transactions removing the same
    file cannot both land, whatever partitions they claim."""
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    _, files = TL.snapshot(path)
    victim = sorted(files)[0]
    base = TL.latest_version(path)
    TL.commit(path, [], [victim], "merge", [], base_version=base)
    with pytest.raises(TL.CommitConflictError, match="already removed"):
        TL.commit(path, [], [victim], "merge", [], base_version=base)


def test_adoption_respects_pre_txn_manifest(spark, tmp_path, monkeypatch):
    """Upgrading a _MANIFEST table that has crash-window orphans on
    disk: the txn log must adopt the COMMITTED file list, not the raw
    directory listing, or the orphan rows resurrect."""
    from django_datastream_spark.operators import merge as M

    path = str(tmp_path / "t")
    _df(spark, [(1, "a", 1.0)]).write.partitionBy("p").parquet(path)
    M._write_manifest(path, M._list_data_files(path), 1)
    # crash-inject: a merge that wrote new files but died pre-commit
    monkeypatch.setattr(
        M, "_write_manifest", lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash before manifest swap")
        )
    )
    with pytest.raises(RuntimeError, match="crash"):
        M.merge_into(
            spark, path, _df(spark, [(1, "a", 99.0)]), ["k"], ["p"]
        )
    monkeypatch.undo()
    TL.init_table(path)
    assert _rows(spark, path) == {1: ("a", 1.0)}  # orphan invisible
    assert TL.txn_vacuum(path)  # and reclaimable


def test_concurrent_init_on_pre_existing_table(spark, tmp_path):
    """Racing initializers on a plain pre-txn table: the atomic
    rename-publish means whoever wins installs the adoption commit,
    and no interleaving can make the pre-existing rows invisible."""
    path = str(tmp_path / "t")
    _df(spark, [(100, "a", 1.0), (101, "b", 2.0)]).write.partitionBy(
        "p"
    ).parquet(path)
    errs = []

    def writer(i):
        try:
            TL.txn_append(
                spark, _df(spark, [(i, "a", float(i))]), path, ["p"]
            )
        except Exception as e:  # noqa: BLE001 — surface in assert
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in (1, 2, 3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert set(_rows(spark, path)) == {100, 101, 1, 2, 3}


def test_insert_only_merge_conflicts_with_racing_insert(
    spark, tmp_path, monkeypatch
):
    """Two writers deciding key 7 is fresh from the same snapshot must
    not BOTH insert it: the read-modify-write partition rule applies
    even when the merge removes nothing."""
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    real = TL.stage_files
    raced = {"done": False}

    def inject(spark_, df, root, pcols, tag):
        adds = real(spark_, df, root, pcols, tag)
        if not raced["done"]:
            raced["done"] = True
            # rival inserts the SAME fresh key from the same snapshot
            merge_into(
                spark_, path, _df(spark_, [(7, "a", 70.0)]),
                ["k"], ["p"], txn=True,
            )
        return adds

    monkeypatch.setattr(TL, "stage_files", inject)
    with pytest.raises(TL.CommitConflictError):
        merge_into(
            spark, path, _df(spark, [(7, "a", 7.0)]), ["k"], ["p"], txn=True
        )
    monkeypatch.setattr(TL, "stage_files", real)
    assert _rows(spark, path)[7] == ("a", 70.0)  # exactly one landed
    # recovery re-run now sees key 7 and updates instead of duplicating
    merge_into(
        spark, path, _df(spark, [(7, "a", 7.0)]), ["k"], ["p"], txn=True
    )
    rows = TL.txn_read(spark, path).filter("k = 7").collect()
    assert len(rows) == 1 and rows[0]["v"] == 7.0


def test_checkpoint_failure_does_not_fail_landed_commit(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    TL.init_table(path)
    for i in range(TL.CHECKPOINT_EVERY - 1):
        TL.commit(path, [], [], "append", [], base_version=i)

    def boom(*a, **k):
        raise OSError("disk full during checkpoint")

    monkeypatch.setattr(TL, "_fold_arrow", boom)
    v = TL.commit(
        path, [], [], "append", [], base_version=TL.CHECKPOINT_EVERY - 1
    )
    monkeypatch.undo()
    assert v == TL.CHECKPOINT_EVERY  # the commit landed
    log = os.path.join(path, TL.TXN_DIR)
    assert not any(n.startswith("checkpoint-") for n in os.listdir(log))
    assert TL.snapshot(path)[0] == TL.CHECKPOINT_EVERY  # fold still works


def test_change_data_feed_incremental_consumption(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    v2 = TL.txn_append(spark, _df(spark, [(2, "b", 2.0)]), path, ["p"])
    v3 = merge_into(
        spark, path, _df(spark, [(1, "a", 10.0), (3, "a", 3.0)]),
        ["k"], ["p"], txn=True,
    )["version"]
    # consumer checkpointed at v1: sees v2's append and v3's rewrite
    ch = TL.txn_changes(spark, path, from_version=v1)
    got = {(r["k"], r["_commit_version"]) for r in ch.collect()}
    assert got == {(2, v2), (1, v3), (3, v3)}
    # full-history feed includes the first append
    allch = TL.txn_changes(spark, path, from_version=0)
    assert {(r["k"], r["_commit_version"]) for r in allch.collect()} == {
        (1, v1), (2, v2), (1, v3), (3, v3),
    }
    # empty range with schema -> typed empty frame
    empty = TL.txn_changes(
        spark, path, from_version=v3,
        schema=TL.txn_read(spark, path).drop("p").schema,
    )
    assert empty.count() == 0 and "_commit_version" in empty.columns
    with pytest.raises(ValueError, match="bad version range"):
        TL.txn_changes(spark, path, from_version=5, to_version=2)


def test_model_based_random_interleavings(spark, tmp_path):
    """Random op sequences (append / merge / vacuum / time-travel
    read) against a dict model. Merges that hit a CommitConflictError
    are re-run once against the new snapshot (the documented recovery),
    after which engine state must equal the model. Seeded, so failures
    replay."""
    import random

    rng = random.Random(1234)
    path = str(tmp_path / "t")
    TL.init_table(path)
    model: dict[int, tuple[str, float]] = {}
    history: list[dict[int, tuple[str, float]]] = []  # by version

    def sync_history():
        history.append(dict(model))

    next_val = [1.0]
    TL.txn_append(spark, _df(spark, [(1, "a", 0.0)]), path, ["p"])
    model[1] = ("a", 0.0)
    sync_history()
    for step in range(18):
        op = rng.choice(["append", "merge", "merge", "vacuum"])
        if op == "append":
            k = rng.randrange(50, 60) + step * 100  # unique-ish keys
            p = rng.choice(["a", "b", "c"])
            v = next_val[0]
            next_val[0] += 1
            TL.txn_append(spark, _df(spark, [(k, p, v)]), path, ["p"])
            model[k] = (p, v)
            sync_history()
        elif op == "merge":
            keys = rng.sample(sorted(model) or [1], k=min(2, max(1, len(model))))
            rows = []
            for k in keys:
                p = model.get(k, (rng.choice(["a", "b", "c"]),))[0]
                v = next_val[0]
                next_val[0] += 1
                rows.append((k, p, v))
            # occasionally a fresh insert key
            if rng.random() < 0.5:
                k = 10_000 + step
                rows.append((k, rng.choice(["a", "b", "c"]), 0.5))
            try:
                merge_into(
                    spark, path, _df(spark, rows), ["k"], ["p"], txn=True
                )
            except TL.CommitConflictError:  # pragma: no cover — serial test
                merge_into(
                    spark, path, _df(spark, rows), ["k"], ["p"], txn=True
                )
            for k, p, v in rows:
                model[k] = (p, v)
            sync_history()
        else:
            TL.txn_vacuum(path)  # no version bump, history intact
        assert _rows(spark, path) == model, f"divergence at step {step}"
    # time travel: every recorded version must replay its model state
    # EXCEPT files a later vacuum removed — vacuum(0h) legally breaks
    # old snapshots, so only check versions newer than the last vacuum
    head = TL.latest_version(path)
    assert head == len(history)
    assert _rows(spark, path, version=head) == history[-1]


def test_vacuum_retention_keeps_recent_snapshots_readable(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])      # v1
    merge_into(spark, path, _df(spark, [(1, "a", 2.0)]), ["k"], ["p"],
               txn=True)                                                 # v2
    merge_into(spark, path, _df(spark, [(1, "a", 3.0)]), ["k"], ["p"],
               txn=True)                                                 # v3
    # retain one prior version: v2 must stay readable, v1's file goes
    removed = TL.txn_vacuum(path, retain_versions=1)
    assert removed  # v1's superseded file reclaimed
    assert _rows(spark, path, version=3)[1] == ("a", 3.0)
    assert _rows(spark, path, version=2)[1] == ("a", 2.0)
    with pytest.raises(Exception):  # v1's data file is gone
        _rows(spark, path, version=1)


def test_vacuum_min_age_protects_inflight_staged_files(spark, tmp_path):
    import os as _os
    import time as _time

    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    # simulate an in-flight transaction: staged file, commit not landed
    staged = TL.stage_files(
        spark, _df(spark, [(2, "a", 2.0)]), path, ["p"], "inflight"
    )
    assert staged
    # fresh file is protected...
    assert TL.txn_vacuum(path, min_age_s=3600) == []
    # ...but an AGED uncommitted orphan is reclaimed
    root = _os.path.join(path)
    for rel in staged:
        p = _os.path.join(root, rel)
        _os.utime(p, (_time.time() - 7200, _time.time() - 7200))
    assert sorted(TL.txn_vacuum(path, min_age_s=3600)) == sorted(staged)


def test_streaming_foreachbatch_commits_through_txn_log(spark, tmp_path):
    """Structured Streaming -> foreachBatch -> txn_append: every
    micro-batch is one atomic log commit, so a concurrent batch writer
    can interleave safely and the final table is the union with no
    lost update. This is the multi-writer ingest story the log
    exists for (a second INDEPENDENT writer lands mid-stream)."""
    import pandas as pd

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    table = str(tmp_path / "table")
    TL.init_table(table)
    for i in range(3):
        pd.DataFrame(
            {"k": [10 * i + 1, 10 * i + 2],
             "p": ["a", "b"],
             "v": [float(i), float(i) + 0.5]}
        ).to_parquet(os.path.join(src_dir, f"f{i}.parquet"))

    def sink(batch_df, batch_id):
        ss = batch_df.sparkSession
        TL.txn_append(ss, batch_df, table, ["p"], writer=f"b{batch_id}")
        if batch_id == 0:
            # rival batch writer lands between micro-batches
            TL.txn_append(
                ss,
                ss.createDataFrame(
                    [(999, "a", 9.9)], "k long, p string, v double"
                ),
                table,
                ["p"],
                writer="rival",
            )

    q = (
        spark.readStream.schema("k long, p string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", str(tmp_path / "cp")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = set(_rows(spark, table))
    assert {1, 2, 11, 12, 21, 22, 999} <= got
    # one commit per micro-batch + rival + (no adoption: init was empty)
    assert TL.latest_version(table) == 4


# ---------------------------------------------------------------------------
# data skipping: per-file stats recorded at commit, pruned reads
# ---------------------------------------------------------------------------


def _skew_df(spark, lo, hi, tag):
    rows = [(k, tag, float(k)) for k in range(lo, hi)]
    return spark.createDataFrame(rows, "k long, p string, v double")


def test_data_skipping_prunes_files_and_preserves_results(spark, tmp_path):
    """Three commits with disjoint key ranges; a range read hands Spark
    only the intersecting files yet returns exactly what filtering a
    full scan returns (pruning is I/O-only)."""
    path = str(tmp_path / "t")
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        TL.txn_append(
            spark, _skew_df(spark, lo, hi, "a").coalesce(1), path, []
        )
    # commit entries carry footer stats for the added files
    v, m = TL.snapshot_with_stats(path)
    assert v == 3 and len(m) == 3
    for st in m.values():
        assert st is not None and st["cols"]["k"]["t"] == "num"

    # range straddling files 2 and 3: file 1 must be pruned
    v, kept, pruned = TL.prune_files(path, {"k": (150, 250)})
    assert len(kept) == 2 and len(pruned) == 1

    full = {
        r["k"]
        for r in TL.txn_read(spark, path).filter("k >= 150 and k <= 250").collect()
    }
    skipped_df = TL.txn_read(spark, path, where={"k": (150, 250)})
    assert {r["k"] for r in skipped_df.collect()} == full == set(range(150, 251))
    assert len(skipped_df.inputFiles()) == 2  # the pruned file never reaches Spark

    # one-sided ranges prune too
    _, kept_lo, pruned_lo = TL.prune_files(path, {"k": (205, None)})
    assert len(kept_lo) == 1 and len(pruned_lo) == 2
    only = TL.txn_read(spark, path, where={"k": (205, None)})
    assert only.count() == 95

    # string-typed stats: all three commits used p='a'
    _, kept_s, pruned_s = TL.prune_files(path, {"v": (None, -1.0)})
    assert kept_s == [] and len(pruned_s) == 3


def test_data_skipping_survives_checkpoint_fold(spark, tmp_path):
    """Stats must ride through the checkpoint snapshot: after more than
    CHECKPOINT_EVERY commits, the fold starts from a checkpoint and
    pruning still sees every file's stats."""
    path = str(tmp_path / "t")
    n = TL.CHECKPOINT_EVERY + 2
    for i in range(n):
        TL.txn_append(
            spark,
            _skew_df(spark, 100 * i, 100 * i + 10, "a").coalesce(1),
            path,
            [],
        )
    log = os.path.join(path, TL.TXN_DIR)
    assert any(x.startswith("checkpoint-") for x in os.listdir(log))
    v, kept, pruned = TL.prune_files(path, {"k": (0, 5)})
    assert v == n and len(kept) == 1 and len(pruned) == n - 1
    got = TL.txn_read(spark, path, where={"k": (0, 5)})
    assert got.count() == 6 and len(got.inputFiles()) == 1


def test_all_null_column_prunes_but_legacy_commit_is_kept(spark, tmp_path):
    """A file whose column is entirely NULL can never satisfy a range
    predicate → pruned. A commit written without stats (legacy log)
    must stay unprunable — conservative, never wrong."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(None, "a", 1.0), (None, "a", 2.0)], "k long, p string, v double"
        ).coalesce(1),
        path,
        [],
    )
    TL.txn_append(spark, _skew_df(spark, 0, 10, "a").coalesce(1), path, [])
    # strip stats from commit 2 to simulate a pre-stats writer
    cpath = os.path.join(path, TL.TXN_DIR, "v0000000002.json")
    with open(cpath) as f:
        c = json.load(f)
    c.pop("stats", None)
    os.unlink(cpath)
    with open(cpath, "w") as f:
        json.dump(c, f)

    v, kept, pruned = TL.prune_files(path, {"k": (1000, 2000)})
    # all-null file proven empty for the range; stats-less file kept
    assert len(pruned) == 1 and len(kept) == 1
    assert TL.txn_read(spark, path, where={"k": (1000, 2000)}).count() == 0


def test_timestamp_skipping_matches_full_filter(spark, tmp_path):
    """Timestamp bounds prune on ISO-ordered footer stats and the
    residual filter reproduces the full-scan result exactly."""
    import datetime

    path = str(tmp_path / "t")
    base = datetime.datetime(2024, 1, 1)
    for day0 in (0, 10, 20):
        rows = [
            (i, base + datetime.timedelta(days=day0, hours=i), float(i))
            for i in range(24)
        ]
        TL.txn_append(
            spark,
            spark.createDataFrame(
                rows, "k long, ts timestamp, v double"
            ).coalesce(1),
            path,
            [],
        )
    lo = datetime.datetime(2024, 1, 11, 5)
    hi = datetime.datetime(2024, 1, 11, 12)
    v, kept, pruned = TL.prune_files(path, {"ts": (lo, hi)})
    assert len(kept) == 1 and len(pruned) == 2
    full = (
        TL.txn_read(spark, path)
        .filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .collect()
    )
    sk = TL.txn_read(spark, path, where={"ts": (lo, hi)}).collect()
    assert sorted(r["k"] for r in sk) == sorted(r["k"] for r in full)
    assert len(sk) == 8  # hours 5..12 inclusive


def test_merge_schema_reads_evolved_table(spark, tmp_path):
    """Column-added schema evolution: old files lack the new column,
    merge_schema=True reconciles them (old rows read NULL)."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        spark.createDataFrame([(1, 1.0)], "k long, v double"),
        path,
        [],
    )
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(2, 2.0, "new")], "k long, v double, note string"
        ),
        path,
        [],
        merge_schema=True,
    )
    got = {
        r["k"]: r["note"]
        for r in TL.txn_read(spark, path, merge_schema=True).collect()
    }
    assert got == {1: None, 2: "new"}
    # the widened schema is RECORDED: a default read (no mergeSchema
    # footer sweep, no caller schema) sees the evolved column too
    got2 = {r["k"]: r["note"] for r in TL.txn_read(spark, path).collect()}
    assert got2 == {1: None, 2: "new"}


# ---------------------------------------------------------------------------
# OPTIMIZE: small-file compaction + z-order re-clustering commits
# ---------------------------------------------------------------------------


def test_optimize_compacts_small_files_preserving_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(6):
        TL.txn_append(
            spark, _skew_df(spark, 10 * i, 10 * i + 10, "a").coalesce(1),
            path, [],
        )
    before = _rows_k(spark, path)
    res = TL.txn_optimize(spark, path)  # default target >> file sizes
    assert res["skipped"] is False and res["rewritten_files"] == 6
    assert res["new_files"] == 1 and res["version"] == 7
    assert _rows_k(spark, path) == before == set(range(60))
    # the log recorded an optimize op removing the compacted files
    with open(os.path.join(path, TL.TXN_DIR, "v0000000007.json")) as f:
        c = json.load(f)
    assert c["op"] == "optimize" and len(c["removes"]) == 6
    # superseded files are vacuumable, snapshot still exact afterwards
    removed = TL.txn_vacuum(path)
    assert len(removed) == 6
    assert _rows_k(spark, path) == before
    # fresh footer stats rode along with the optimize commit
    _, m = TL.snapshot_with_stats(path)
    (st,) = m.values()
    assert st["cols"]["k"] == {"t": "num", "min": 0, "max": 59, "nulls": 0}


def _rows_k(spark, path):
    return {r["k"] for r in TL.txn_read(spark, path).select("k").collect()}


def test_optimize_commutes_with_concurrent_append(spark, tmp_path, monkeypatch):
    """An append lands while optimize is staging: optimize must rebase
    and commit (no partition conflict — it rewrites bytes, not rows),
    and the appended row must survive."""
    path = str(tmp_path / "t")
    for i in range(3):
        TL.txn_append(
            spark, _skew_df(spark, 10 * i, 10 * i + 10, "a").coalesce(1),
            path, [],
        )
    real_stage = TL.stage_files
    fired = {"done": False}

    def staging_rival(spark_, df, root, pcols, tag):
        out = real_stage(spark_, df, root, pcols, tag)
        if not fired["done"]:
            fired["done"] = True
            TL.txn_append(
                spark_, _skew_df(spark_, 900, 901, "a"), path, [],
                writer="rival",
            )
        return out

    monkeypatch.setattr(TL, "stage_files", staging_rival)
    res = TL.txn_optimize(spark, path)
    monkeypatch.setattr(TL, "stage_files", real_stage)
    assert res["skipped"] is False
    assert res["version"] == 5  # rival took v4; optimize rebased to v5
    assert _rows_k(spark, path) == set(range(30)) | {900}


def test_optimize_conflicts_with_racing_rewrite_of_same_files(
    spark, tmp_path, monkeypatch
):
    """A rival commit that REMOVES a file optimize is compacting must
    turn the optimize commit into CommitConflictError."""
    path = str(tmp_path / "t")
    for i in range(3):
        TL.txn_append(
            spark, _skew_df(spark, 10 * i, 10 * i + 10, "a").coalesce(1),
            path, [],
        )
    _, committed = TL.snapshot(path)
    victim = sorted(committed)[0]
    real_stage = TL.stage_files
    fired = {"done": False}

    def staging_rival(spark_, df, root, pcols, tag):
        out = real_stage(spark_, df, root, pcols, tag)
        if not fired["done"]:
            fired["done"] = True
            TL.commit(
                path, [], [victim], "merge", [],
                base_version=TL.latest_version(path), writer="rival",
            )
        return out

    monkeypatch.setattr(TL, "stage_files", staging_rival)
    with pytest.raises(TL.CommitConflictError):
        TL.txn_optimize(spark, path)


def test_optimize_zorder_improves_pruning(spark, tmp_path):
    """Files written in time order each span the full key range → a key
    predicate prunes nothing. OPTIMIZE ZORDER BY the key re-clusters so
    the same predicate prunes most files."""
    path = str(tmp_path / "t")
    # 4 commits, each covering ALL keys 0..99 (interleaved layout)
    for i in range(4):
        rows = [(k, "a", float(i)) for k in range(100)]
        TL.txn_append(
            spark,
            spark.createDataFrame(
                rows, "k long, p string, v double"
            ).coalesce(1),
            path,
            [],
        )
    _, kept0, pruned0 = TL.prune_files(path, {"k": (0, 10)})
    assert len(pruned0) == 0  # every file spans all keys

    res = TL.txn_optimize(
        spark, path, target_file_bytes=2000, zorder_by=["k"]
    )
    assert res["skipped"] is False and res["new_files"] >= 2
    _, kept1, pruned1 = TL.prune_files(path, {"k": (0, 10)})
    assert len(pruned1) >= 1  # clustering made the predicate selective
    got = TL.txn_read(spark, path, where={"k": (0, 10)})
    assert got.count() == 44  # 11 keys x 4 rows
    assert _rows_k(spark, path) == set(range(100))


def test_optimize_partitioned_table_keeps_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(3):
        TL.txn_append(
            spark,
            _df(spark, [(10 * i + j, "ab"[j % 2], float(i)) for j in range(4)]),
            path,
            ["p"],
        )
    before = _rows(spark, path)
    res = TL.txn_optimize(spark, path)
    assert res["skipped"] is False
    assert _rows(spark, path) == before
    # files remain under hive-style partition dirs
    _, files = TL.snapshot(path)
    assert files and all(f.startswith("p=") for f in files)


# ---------------------------------------------------------------------------
# metadata-only COUNT(*) and DESCRIBE HISTORY
# ---------------------------------------------------------------------------


def test_txn_count_metadata_only_and_boundary_scan(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        TL.txn_append(
            spark, _skew_df(spark, lo, hi, "a").coalesce(1), path, []
        )
    # no predicate: pure metadata sum
    assert TL.txn_count(spark, path) == 300
    # range cutting through files 1 and 3: file 2 counted from
    # metadata (fully inside), 1+3 scanned with the filter
    got = TL.txn_count(spark, path, where={"k": (50, 250)})
    assert got == 201
    assert got == TL.txn_read(spark, path, where={"k": (50, 250)}).count()
    # disjoint range: zero without touching data
    assert TL.txn_count(spark, path, where={"k": (1000, None)}) == 0
    # version pinning
    assert TL.txn_count(spark, path, version=1) == 100


def test_txn_count_null_column_forces_scan_and_is_exact(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(1, "a", 1.0), (None, "a", 2.0), (50, "a", 3.0)],
            "k long, p string, v double",
        ).coalesce(1),
        path,
        [],
    )
    # file intersects but has nulls -> boundary scan; NULL k excluded
    assert TL.txn_count(spark, path, where={"k": (0, 100)}) == 2


def test_txn_history_audit_surface(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(3):
        TL.txn_append(
            spark, _skew_df(spark, 10 * i, 10 * i + 10, "a").coalesce(1),
            path, [], writer=f"w{i}",
        )
    TL.txn_optimize(spark, path)
    h = TL.txn_history(spark, path).collect()
    assert [r["version"] for r in h] == [4, 3, 2, 1]
    assert h[0]["op"] == "optimize" and h[0]["data_change"] is False
    assert h[0]["n_removed_files"] == 3 and h[0]["n_added_files"] == 1
    assert {r["writer"] for r in h[1:]} == {"w0", "w1", "w2"}
    assert all(r["data_change"] for r in h[1:])


# ---------------------------------------------------------------------------
# DELETION VECTORS: row-level delete without file rewrites
# ---------------------------------------------------------------------------


def test_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo, hi in [(0, 100), (100, 200)]:
        TL.txn_append(
            spark, _skew_df(spark, lo, hi, "a").coalesce(1), path, []
        )
    _, before_files = TL.snapshot(path)
    res = TL.txn_delete(spark, path, "k % 10 = 0")
    assert res["deleted_rows"] == 20 and res["files_touched"] == 2
    assert res["version"] == 3
    # no data file added or removed — only a vector commit
    _, after_files = TL.snapshot(path)
    assert after_files == before_files
    got = _rows_k(spark, path)
    assert got == {k for k in range(200) if k % 10 != 0}
    # time travel to the pre-delete snapshot still shows every row
    assert len(_rows_k_at(spark, path, 2)) == 200
    # metadata count subtracts the vectors exactly
    assert TL.txn_count(spark, path) == 180
    # skipping + vectors compose: range cut + deleted rows both honored
    assert TL.txn_count(spark, path, where={"k": (0, 50)}) == 45
    assert TL.txn_read(spark, path, where={"k": (0, 50)}).count() == 45


def _rows_k_at(spark, path, version):
    return {
        r["k"]
        for r in TL.txn_read(spark, path, version=version)
        .select("k")
        .collect()
    }


def test_sequential_deletes_compose_and_stale_delete_conflicts(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _skew_df(spark, 0, 100, "a").coalesce(1), path, [])
    TL.txn_delete(spark, path, "k < 10")
    # second delete reads the DV-applied snapshot: fresh base, lands
    r2 = TL.txn_delete(spark, path, "k < 20")
    assert r2["deleted_rows"] == 10  # 0-9 already gone
    assert _rows_k(spark, path) == set(range(20, 100))

    # a STALE delete (rival vector landed on the same file after our
    # read) must conflict, not double-apply
    real = TL._fold
    raced = {"done": False}

    def racy_fold(table_root, version=None):
        out = real(table_root, version)
        if not raced["done"] and version is None:
            raced["done"] = True
            TL.txn_delete(spark, path, "k >= 90", writer="rival")
        return out

    monkeypatch.setattr(TL, "_fold", racy_fold)
    with pytest.raises(TL.CommitConflictError):
        TL.txn_delete(spark, path, "k >= 50")
    monkeypatch.undo()
    assert _rows_k(spark, path) == set(range(20, 90))


def test_optimize_materializes_vectors_and_vacuum_reclaims(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo, hi in [(0, 100), (100, 200)]:
        TL.txn_append(
            spark, _skew_df(spark, lo, hi, "a").coalesce(1), path, []
        )
    TL.txn_delete(spark, path, "k % 2 = 0")
    assert TL.snapshot_dv(path)[1]  # vectors present
    res = TL.txn_optimize(spark, path)
    assert res["skipped"] is False
    # rewrite dropped the dead rows and the fold dropped the vectors
    assert TL.snapshot_dv(path)[1] == {}
    assert _rows_k(spark, path) == {k for k in range(200) if k % 2 == 1}
    assert TL.txn_count(spark, path) == 100
    removed = TL.txn_vacuum(path)
    # old data files AND the now-unreferenced sidecar are gone
    assert any(f.startswith("_dv" + os.sep) for f in removed)
    assert _rows_k(spark, path) == {k for k in range(200) if k % 2 == 1}


def test_merge_racing_vector_on_same_file_conflicts(
    spark, tmp_path, monkeypatch
):
    """A merge rewriting file F must conflict with a vector that landed
    on F after its read — otherwise the rewrite (computed from pre-DV
    rows) would resurrect the deleted rows when the fold drops F."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark, _df(spark, [(1, "a", 1.0), (2, "a", 2.0)]), path, ["p"]
    )
    real = TL.stage_files
    raced = {"done": False}

    def inject(spark_, df, root, pcols, tag):
        adds = real(spark_, df, root, pcols, tag)
        if not raced["done"]:
            raced["done"] = True
            TL.txn_delete(spark_, path, "k = 2", writer="rival")
        return adds

    monkeypatch.setattr(TL, "stage_files", inject)
    with pytest.raises(TL.CommitConflictError):
        merge_into(
            spark, path, _df(spark, [(1, "a", 10.0)]), ["k"], ["p"], txn=True
        )
    monkeypatch.setattr(TL, "stage_files", real)
    # rival's delete stands; re-run of the merge applies cleanly
    assert set(_rows(spark, path)) == {1}
    merge_into(
        spark, path, _df(spark, [(1, "a", 10.0)]), ["k"], ["p"], txn=True
    )
    assert _rows(spark, path) == {1: ("a", 10.0)}


def test_delete_commit_invisible_to_stream_and_cdf(spark, tmp_path):
    from django_datastream_spark.sources import txn_stream

    path = str(tmp_path / "t")
    TL.txn_append(spark, _skew_df(spark, 0, 10, "a").coalesce(1), path, [])
    TL.txn_delete(spark, path, "k < 5")
    # CDF stays insert-only: the delete adds no files, emits nothing new
    cdf = TL.txn_changes(spark, path, from_version=1, schema=None) \
        if False else TL.txn_changes(
            spark, path, from_version=0
        )
    assert cdf.count() == 10  # history is immutable; v1's adds unchanged
    txn_stream.register(spark)
    q = (
        spark.readStream.format("txn_table")
        .option("path", path)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 10


# ---------------------------------------------------------------------------
# exactly-once streaming sink: app-txn ledger (SetTransaction)
# ---------------------------------------------------------------------------


def test_txn_append_batch_is_idempotent_per_batch(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.0)])
    v1 = TL.txn_append_batch(spark, df, path, [], "appX", 0)
    assert v1 == 1
    # the at-least-once retry of the SAME batch is a no-op
    assert TL.txn_append_batch(spark, df, path, [], "appX", 0) is None
    assert TL.txn_count(spark, path) == 1
    # next batch lands; a DIFFERENT app's batch 0 also lands
    assert TL.txn_append_batch(
        spark, _df(spark, [(2, "a", 2.0)]), path, [], "appX", 1
    ) == 2
    assert TL.txn_append_batch(
        spark, _df(spark, [(3, "a", 3.0)]), path, [], "appY", 0
    ) == 3
    assert set(_rows(spark, path)) == {1, 2, 3}
    assert TL.app_txn_watermarks(path) == {"appX": 1, "appY": 0}


def test_racing_duplicate_batch_cannot_double_land(
    spark, tmp_path, monkeypatch
):
    """Both retries pass the watermark lookup; the commit rebase must
    reject the second (check-then-commit window closed in the CAS)."""
    path = str(tmp_path / "t")
    TL.init_table(path)
    real = TL.stage_files
    raced = {"done": False}

    def inject(spark_, df, root, pcols, tag):
        adds = real(spark_, df, root, pcols, tag)
        if not raced["done"]:
            raced["done"] = True
            # the rival retry of the SAME batch wins the race mid-stage
            TL.txn_append_batch(
                spark_, _df(spark_, [(99, "a", 9.9)]), path, [], "app", 5
            )
        return adds

    monkeypatch.setattr(TL, "stage_files", inject)
    out = TL.txn_append_batch(
        spark, _df(spark, [(99, "a", 9.9)]), path, [], "app", 5
    )
    monkeypatch.setattr(TL, "stage_files", real)
    assert out is None  # our commit detected the duplicate and skipped
    assert TL.txn_count(spark, path) == 1  # exactly one copy
    # loser's staged files are reclaimable
    assert TL.txn_vacuum(path)


def test_app_txn_watermarks_survive_checkpoint_fold(spark, tmp_path):
    path = str(tmp_path / "t")
    for b in range(TL.CHECKPOINT_EVERY + 2):
        TL.txn_append_batch(
            spark, _df(spark, [(b, "a", float(b))]), path, [], "app", b
        )
    log = os.path.join(path, TL.TXN_DIR)
    assert any(n.startswith("checkpoint-") for n in os.listdir(log))
    # replay of a PRE-checkpoint batch must still be refused
    assert TL.txn_append_batch(
        spark, _df(spark, [(0, "a", 0.0)]), path, [], "app", 0
    ) is None
    wm = TL.app_txn_watermarks(path)
    assert wm == {"app": TL.CHECKPOINT_EVERY + 1}


def test_streaming_sink_exactly_once_through_restart(spark, tmp_path):
    """End-to-end: a real availableNow stream writes through
    streaming_sink; a second run with a WIPED source checkpoint (the
    worst case: Spark re-delivers everything as new batch ids... same
    ids 0.. reassigned) must not duplicate rows."""
    import pandas as pd

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    table = str(tmp_path / "table")
    for i in range(3):
        pd.DataFrame(
            {"k": [10 * i, 10 * i + 1], "p": ["a", "a"],
             "v": [float(i), float(i) + 0.5]}
        ).to_parquet(os.path.join(src_dir, f"f{i}.parquet"))

    def run(cp):
        q = (
            spark.readStream.schema("k long, p string, v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .writeStream.foreachBatch(
                TL.streaming_sink(table, ["p"], "ingest-app")
            )
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run(str(tmp_path / "cp1"))
    assert TL.txn_count(spark, table) == 6
    # fresh checkpoint: Spark re-delivers batches 0..2 — all refused
    run(str(tmp_path / "cp2"))
    assert TL.txn_count(spark, table) == 6
    assert len(set(_rows(spark, table))) == 6


# ---------------------------------------------------------------------------
# UPDATE via deletion vectors
# ---------------------------------------------------------------------------


def test_update_rewrites_only_matching_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo, hi in [(0, 100), (100, 200)]:
        TL.txn_append(
            spark, _skew_df(spark, lo, hi, "a").coalesce(1), path, []
        )
    _, before_files = TL.snapshot(path)
    res = TL.txn_update(
        spark, path, "k % 50 = 0", {"v": "v + 1000"}
    )
    assert res["updated_rows"] == 4 and res["files_touched"] == 2
    got = {
        r["k"]: r["v"]
        for r in TL.txn_read(spark, path).collect()
    }
    assert len(got) == 200  # no row lost, no row duplicated
    for k in (0, 50, 100, 150):
        assert got[k] == k + 1000.0
    assert got[1] == 1.0
    # originals were NOT rewritten: old files still committed + vectors
    _, after_files = TL.snapshot(path)
    assert before_files <= after_files
    assert TL.snapshot_dv(path)[1]
    # time travel shows pre-update values
    assert {
        r["v"]
        for r in TL.txn_read(spark, path, version=2)
        .filter("k = 50")
        .collect()
    } == {50.0}
    # update with no matches is a clean no-op
    res2 = TL.txn_update(spark, path, "k = -1", {"v": "0.0"})
    assert res2["updated_rows"] == 0
    assert TL.latest_version(path) == res["version"]


def test_update_then_delete_then_optimize_compose(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _skew_df(spark, 0, 100, "a").coalesce(1), path, [])
    TL.txn_update(spark, path, "k < 10", {"v": "v * -1"})
    TL.txn_delete(spark, path, "v < 0 and k >= 5")  # kills updated 5..9
    got = {r["k"]: r["v"] for r in TL.txn_read(spark, path).collect()}
    assert set(got) == set(range(0, 5)) | set(range(10, 100))
    assert got[3] == -3.0 and got[20] == 20.0
    TL.txn_optimize(spark, path)
    assert TL.snapshot_dv(path)[1] == {}
    got2 = {r["k"]: r["v"] for r in TL.txn_read(spark, path).collect()}
    assert got2 == got
    assert TL.txn_count(spark, path) == 95


def test_full_cdf_emits_inserts_preimages_and_deletes(spark, tmp_path):
    """change_types=True upgrades the feed to full CDF: deletion
    vectors make before-images recoverable (old file still on disk +
    this commit's position sidecar)."""
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0), (2, "a", 2.0)]), path, [])
    TL.txn_delete(spark, path, "k = 1")                      # v2
    TL.txn_update(spark, path, "k = 2", {"v": "v * 10"})     # v3
    TL.txn_optimize(spark, path)                             # v4 (invisible)

    cdf = TL.txn_changes(spark, path, from_version=0, change_types=True)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in cdf.collect()
    )
    assert got == [
        (1, "insert", 1, 1.0),
        (1, "insert", 2, 2.0),
        (2, "delete", 1, 1.0),
        (3, "update_postimage", 2, 20.0),
        (3, "update_preimage", 2, 2.0),
    ]
    # range restriction: only the delete's change
    only_del = TL.txn_changes(
        spark, path, from_version=1, to_version=2, change_types=True
    ).collect()
    assert [(r["_change_type"], r["k"]) for r in only_del] == [("delete", 1)]
    # the legacy insert-only shape is unchanged (no _change_type column)
    legacy = TL.txn_changes(spark, path, from_version=0)
    assert "_change_type" not in legacy.columns
    assert legacy.count() == 3  # v1 two inserts + v3 postimage add


def test_where_scalar_means_equality(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo, hi in [(0, 100), (100, 200)]:
        TL.txn_append(
            spark, _skew_df(spark, lo, hi, "a").coalesce(1), path, []
        )
    _, kept, pruned = TL.prune_files(path, {"k": 150})
    assert len(kept) == 1 and len(pruned) == 1
    got = TL.txn_read(spark, path, where={"k": 150})
    assert [r["k"] for r in got.collect()] == [150]
    assert TL.txn_count(spark, path, where={"k": 150}) == 1


def test_stats_indexed_columns_are_capped(spark, tmp_path, monkeypatch):
    """Wide tables must not bloat commit entries: only the first
    STATS_MAX_COLS leaf columns carry stats; later columns stay
    unprunable (conservative), pruning on early columns still works."""
    monkeypatch.setattr(TL, "STATS_MAX_COLS", 3)
    path = str(tmp_path / "t")
    rows = [tuple([i] + [float(i + j) for j in range(5)]) for i in range(10)]
    ddl = "k long, " + ", ".join(f"c{j} double" for j in range(5))
    TL.txn_append(
        spark, spark.createDataFrame(rows, ddl).coalesce(1), path, []
    )
    _, m = TL.snapshot_with_stats(path)
    (st,) = m.values()
    assert set(st["cols"]) == {"k", "c0", "c1"}  # first 3 leaves only
    # early-column pruning works; late-column predicate keeps the file
    assert TL.prune_files(path, {"k": (100, None)})[2]  # pruned
    assert not TL.prune_files(path, {"c4": (1000.0, None)})[2]  # kept
    # and the residual filter still makes the result exact
    assert TL.txn_read(spark, path, where={"c4": (1000.0, None)}).count() == 0


@pytest.mark.slow
def test_model_based_random_dml_sequences(spark, tmp_path):
    """Random APPEND/DELETE/UPDATE/OPTIMIZE/RESTORE sequences applied
    to both the table and a plain dict model must agree after every
    step — and data-skipped reads must agree with the model under
    random range predicates. RESTORE picks any earlier version and the
    model reverts to its recorded state there, so rollback correctness
    composes with every other op. Deterministic seed; ~25 ops."""
    import random

    rng = random.Random(20260814)
    path = str(tmp_path / "t")
    model: dict[int, tuple[float, int]] = {}  # k -> (v, gen)
    snaps: dict[int, dict] = {0: {}}  # committed version -> model state
    next_k = 0

    def table_state():
        return {
            r["k"]: (r["v"], r["gen"])
            for r in TL.txn_read(
                spark, path, schema="k long, v double, gen int"
            ).collect()
        }

    for step in range(25):
        op = rng.choice(
            ["append", "append", "delete", "update", "optimize", "restore"]
        )
        if op == "append":
            n = rng.randint(1, 8)
            rows = [(next_k + j, float(rng.randint(0, 50)), 0)
                    for j in range(n)]
            next_k += n
            TL.txn_append(
                spark,
                spark.createDataFrame(
                    rows, "k long, v double, gen int"
                ).coalesce(1),
                path,
                [],
            )
            model.update({k: (v, g) for k, v, g in rows})
        elif op == "delete":
            cut = rng.randint(0, 50)
            TL.txn_delete(spark, path, f"v <= {cut} and gen = 0")
            model = {
                k: (v, g)
                for k, (v, g) in model.items()
                if not (v <= cut and g == 0)
            }
        elif op == "update":
            mod = rng.randint(2, 5)
            TL.txn_update(
                spark, path, f"k % {mod} = 0", {"gen": "gen + 1"}
            )
            model = {
                k: (v, g + 1 if k % mod == 0 else g)
                for k, (v, g) in model.items()
            }
        elif op == "restore":
            target = rng.choice(sorted(snaps))
            TL.txn_restore(path, target)
            model = dict(snaps[target])
        else:
            TL.txn_optimize(spark, path, target_file_bytes=10_000)
        snaps[TL.latest_version(path)] = dict(model)
        assert table_state() == model, f"divergence after step {step} ({op})"

    # skipped reads agree with the model under random ranges
    for _ in range(5):
        lo = rng.randint(0, next_k)
        hi = lo + rng.randint(0, 20)
        got = {
            r["k"]
            for r in TL.txn_read(
                spark, path, where={"k": (lo, hi)},
                schema="k long, v double, gen int",
            ).collect()
        }
        assert got == {k for k in model if lo <= k <= hi}
    assert TL.txn_count(spark, path) == len(model)


# ---------------------------------------------------------------------------
# Schema tracking: enforcement at the append boundary, evolution, ALTER
# ---------------------------------------------------------------------------


def test_schema_enforcement_rejects_type_change(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    with pytest.raises(TL.SchemaMismatchError, match="column v"):
        TL.txn_append(
            spark,
            spark.createDataFrame([(2, "b", "oops")], "k long, p string, v string"),
            path,
            ["p"],
        )
    # merge_schema never legalizes a TYPE change
    with pytest.raises(TL.SchemaMismatchError, match="column v"):
        TL.txn_append(
            spark,
            spark.createDataFrame([(2, "b", "oops")], "k long, p string, v string"),
            path,
            ["p"],
            merge_schema=True,
        )
    assert _rows(spark, path) == {1: ("a", 1.0)}


def test_schema_evolution_requires_flag_and_rolls_forward(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    wide = spark.createDataFrame(
        [(2, "b", 2.0, "x")], "k long, p string, v double, note string"
    )
    with pytest.raises(TL.SchemaMismatchError, match="note"):
        TL.txn_append(spark, wide, path, ["p"])
    TL.txn_append(spark, wide, path, ["p"], merge_schema=True)
    # a column-SUBSET append stays legal after evolution (null-filled)
    TL.txn_append(spark, _df(spark, [(3, "c", 3.0)]), path, ["p"])
    got = {
        r["k"]: r["note"] for r in TL.txn_read(spark, path).collect()
    }
    assert got == {1: None, 2: "x", 3: None}
    # time travel reads through the schema OF ITS ERA: v1 has no note
    assert "note" not in TL.txn_read(spark, path, version=1).columns
    assert "note" in TL.txn_read(spark, path, version=2).columns


def test_schema_survives_checkpoint_fold(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        spark.createDataFrame([(1, 1.0, "x")], "k long, v double, note string"),
        path,
        [],
    )
    for i in range(2, TL.CHECKPOINT_EVERY + 2):
        TL.txn_append(
            spark,
            spark.createDataFrame([(i, float(i))], "k long, v double"),
            path,
            [],
        )
    assert TL.latest_version(path) > TL.CHECKPOINT_EVERY
    s = TL.table_schema(path)
    assert [f.name for f in s.fields] == ["k", "v", "note"]
    got = {r["k"]: r["note"] for r in TL.txn_read(spark, path).collect()}
    assert got[1] == "x" and got[2] is None


def test_set_schema_alter_table_add_column(spark, tmp_path):
    from pyspark.sql import types as T

    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    cur = TL.table_schema(path)
    wider = T.StructType(
        list(cur.fields) + [T.StructField("note", T.StringType())]
    )
    TL.txn_set_schema(path, wider)
    # the new column reads back NULL everywhere; appends may now use it
    assert {r["note"] for r in TL.txn_read(spark, path).collect()} == {None}
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(2, "b", 2.0, "y")], "k long, p string, v double, note string"
        ),
        path,
        ["p"],
    )
    got = {r["k"]: r["note"] for r in TL.txn_read(spark, path).collect()}
    assert got == {1: None, 2: "y"}
    # column drops and type changes don't evolve
    with pytest.raises(TL.SchemaMismatchError, match="drops column"):
        TL.txn_set_schema(path, T.StructType(cur.fields[:2]))
    # set_schema is metadata-only: CDF/stream consumers skip it
    v = TL.latest_version(path)
    hist = {
        r["version"]: r["data_change"]
        for r in TL.txn_history(spark, path).collect()
    }
    assert hist[2] is False and hist[v] is True


def test_schema_not_recorded_onto_adopted_tables(spark, tmp_path):
    """A table with pre-tracking committed data must NOT adopt the next
    append's (possibly subset) schema as the table schema."""
    path = str(tmp_path / "t")
    _df(spark, [(1, "a", 1.0)]).write.parquet(path)
    TL.init_table(path)  # adopts existing files, no schema recorded
    assert TL.table_schema(path) is None
    TL.txn_append(
        spark,
        spark.createDataFrame([(2,)], "k long"),
        path,
        [],
    )
    assert TL.table_schema(path) is None  # still unknown, not narrowed
    # reads fall back to pre-tracking behavior (mergeSchema reconciles)
    ks = {
        r["k"] for r in TL.txn_read(spark, path, merge_schema=True).collect()
    }
    assert ks == {1, 2}


# ---------------------------------------------------------------------------
# RESTORE: snapshot rollback as a new commit
# ---------------------------------------------------------------------------


def test_restore_roundtrip_and_history(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0), (2, "a", 2.0)]), path, ["p"])
    TL.txn_append(spark, _df(spark, [(3, "b", 3.0)]), path, ["p"])
    r = TL.txn_restore(path, 1)
    assert r["restored_to"] == 1 and r["files_removed"] >= 1
    assert _rows(spark, path) == {1: ("a", 1.0), 2: ("a", 2.0)}
    # history is append-only: the undone version is still reachable
    assert _rows(spark, path, version=2) == {
        1: ("a", 1.0), 2: ("a", 2.0), 3: ("b", 3.0)
    }
    ops = {r2["version"]: r2["op"] for r2 in TL.txn_history(spark, path).collect()}
    assert ops[r["version"]] == "restore"
    # restoring to the current state is a no-op commit-wise
    r2 = TL.txn_restore(path, r["version"])
    assert r2["files_added"] == 0 and r2["files_removed"] == 0
    assert r2["version"] == r["version"]


def test_restore_reinstates_deletion_vector_state(spark, tmp_path):
    """Restore to a mid-DV snapshot: a file live in BOTH snapshots whose
    vector state diverged must cycle so newer vectors drop."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        _df(spark, [(k, "a", float(k)) for k in (1, 2, 3, 4)]).coalesce(1),
        path,
        [],
    )
    TL.txn_delete(spark, path, F.col("k") == 2)  # v2
    TL.txn_delete(spark, path, F.col("k") == 3)  # v3
    assert set(_rows(spark, path)) == {1, 4}
    r = TL.txn_restore(path, 2)
    assert set(_rows(spark, path)) == {1, 3, 4}
    # count answers from metadata must agree post-restore
    assert TL.txn_count(spark, path) == 3
    # restore back to pre-delete state drops both vectors
    TL.txn_restore(path, 1)
    assert set(_rows(spark, path)) == {1, 2, 3, 4}
    assert r["version"] >= 4


def test_restore_past_vacuum_horizon_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(4):
        TL.txn_append(
            spark, _df(spark, [(i, "a", float(i))]).coalesce(1), path, []
        )
    TL.txn_optimize(spark, path, target_file_bytes=1 << 30)  # rewrites all
    TL.txn_vacuum(path)  # drops the superseded originals
    with pytest.raises(ValueError, match="vacuumed"):
        TL.txn_restore(path, 2)
    # the current snapshot is untouched by the failed restore
    assert set(_rows(spark, path)) == {0, 1, 2, 3}


def test_restore_rolls_back_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(2, "b", 2.0, "x")], "k long, p string, v double, note string"
        ),
        path,
        ["p"],
        merge_schema=True,
    )
    TL.txn_restore(path, 1)
    assert "note" not in TL.txn_read(spark, path).columns
    # and the enforcement boundary reverted with it
    with pytest.raises(TL.SchemaMismatchError, match="note"):
        TL.txn_append(
            spark,
            spark.createDataFrame(
                [(9, "z", 9.0, "y")],
                "k long, p string, v double, note string",
            ),
            path,
            ["p"],
        )


def test_restore_cdf_and_stream_skip_reinstated_vector_rows(spark, tmp_path):
    """Incremental consumers across a restore commit: re-added files
    stream as inserts MINUS the reinstated vectored rows."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        _df(spark, [(k, "a", float(k)) for k in (1, 2, 3)]).coalesce(1),
        path,
        [],
    )
    TL.txn_delete(spark, path, F.col("k") == 2)  # v2
    TL.txn_optimize(spark, path)                 # v3 materializes the DV
    TL.txn_vacuum(path, retain_versions=1)       # keep v2's files alive
    restored = TL.txn_restore(path, 2)["version"]
    ch = TL.txn_changes(spark, path, restored - 1, restored)
    assert {r["k"] for r in ch.collect()} == {1, 3}  # 2 stays dead
    # the streaming source applies the same subtraction
    from django_datastream_spark.sources import txn_stream as TS

    TS.register(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    (
        spark.readStream.format("txn_table")
        .schema("k long, p string, v double")
        .option("path", path)
        .option("startingVersion", restored - 1)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert {r["k"] for r in spark.read.parquet(out).collect()} == {1, 3}


# ---------------------------------------------------------------------------
# CHECK constraints: write-time enforcement (Delta ADD CONSTRAINT parity)
# ---------------------------------------------------------------------------


def test_constraint_enforced_on_append_and_nothing_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    TL.txn_add_constraint(spark, path, "v_pos", "v > 0")
    v_before = TL.latest_version(path)
    with pytest.raises(TL.ConstraintViolationError, match="v_pos"):
        TL.txn_append(spark, _df(spark, [(2, "b", -5.0)]), path, ["p"])
    # nothing committed, and the rejected staged files are not orphaned
    assert TL.latest_version(path) == v_before
    assert _rows(spark, path) == {1: ("a", 1.0)}
    assert TL.txn_vacuum(path) == []
    # a conforming append still lands
    TL.txn_append(spark, _df(spark, [(3, "c", 3.0)]), path, ["p"])
    assert set(_rows(spark, path)) == {1, 3}


def test_constraint_null_passes_false_rejects(spark, tmp_path):
    """SQL CHECK semantics: NULL evaluations pass, only FALSE rejects —
    including columns an append legally omitted (null-filled)."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        spark.createDataFrame([(1, 1.0, "x")], "k long, v double, note string"),
        path,
        [],
    )
    TL.txn_add_constraint(spark, path, "note_short", "length(note) < 5")
    # subset append omits note entirely -> NULL -> passes
    TL.txn_append(
        spark, spark.createDataFrame([(2, 2.0)], "k long, v double"), path, []
    )
    with pytest.raises(TL.ConstraintViolationError, match="note_short"):
        TL.txn_append(
            spark,
            spark.createDataFrame(
                [(3, 3.0, "waytoolong")], "k long, v double, note string"
            ),
            path,
            [],
        )
    ks = {r["k"] for r in TL.txn_read(spark, path).collect()}
    assert ks == {1, 2}


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", -1.0)]), path, ["p"])
    with pytest.raises(TL.ConstraintViolationError, match="existing rows"):
        TL.txn_add_constraint(spark, path, "v_pos", "v > 0")
    assert TL.table_constraints(path) == {}
    with pytest.raises(ValueError, match="no constraint"):
        TL.txn_drop_constraint(path, "v_pos")


def test_constraint_drop_and_update_enforcement(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0), (2, "a", 2.0)]), path, ["p"])
    TL.txn_add_constraint(spark, path, "v_pos", "v > 0")
    # UPDATE writing violating rows is rejected too
    with pytest.raises(TL.ConstraintViolationError, match="v_pos"):
        TL.txn_update(spark, path, "k = 1", {"v": "-9.0"})
    assert _rows(spark, path)[1] == ("a", 1.0)
    TL.txn_drop_constraint(path, "v_pos")
    TL.txn_update(spark, path, "k = 1", {"v": "-9.0"})
    assert _rows(spark, path)[1] == ("a", -9.0)


def test_constraints_survive_checkpoint_fold(spark, tmp_path):
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(0, "a", 1.0)]), path, ["p"])
    TL.txn_add_constraint(spark, path, "v_pos", "v > 0")
    for i in range(1, TL.CHECKPOINT_EVERY + 1):
        TL.txn_append(spark, _df(spark, [(i, "a", float(i))]), path, ["p"])
    assert TL.latest_version(path) > TL.CHECKPOINT_EVERY
    assert TL.table_constraints(path) == {"v_pos": "v > 0"}
    with pytest.raises(TL.ConstraintViolationError, match="v_pos"):
        TL.txn_append(spark, _df(spark, [(99, "z", 0.0)]), path, ["p"])


def test_streaming_merge_sink_exactly_once_upsert(spark, tmp_path):
    """CDC apply: a keyed stream MERGEs through streaming_merge_sink.
    Later batches UPDATE keys earlier ones inserted; a full replay with
    a wiped source checkpoint must change nothing (exactly-once), and
    final state is last-write-wins per key."""
    import pandas as pd

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    table = str(tmp_path / "table")
    # f0: keys 1,2 v=0.x — f1: key 2 updated, key 3 new — f2: key 1 updated
    pd.DataFrame(
        {"k": [1, 2], "p": ["a", "a"], "v": [0.1, 0.2]}
    ).to_parquet(os.path.join(src_dir, "f0.parquet"))
    pd.DataFrame(
        {"k": [2, 3], "p": ["a", "a"], "v": [2.0, 3.0]}
    ).to_parquet(os.path.join(src_dir, "f1.parquet"))
    pd.DataFrame(
        {"k": [1], "p": ["a"], "v": [1.0]}
    ).to_parquet(os.path.join(src_dir, "f2.parquet"))

    def run(cp):
        q = (
            spark.readStream.schema("k long, p string, v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .writeStream.foreachBatch(
                TL.streaming_merge_sink(table, ["k"], ["p"], "cdc-app")
            )
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run(str(tmp_path / "cp1"))
    assert _rows(spark, table) == {
        1: ("a", 1.0), 2: ("a", 2.0), 3: ("a", 3.0)
    }
    # wiped checkpoint: every batch re-offered, all refused at the ledger
    head = TL.latest_version(table)
    run(str(tmp_path / "cp2"))
    assert TL.latest_version(table) == head
    assert _rows(spark, table) == {
        1: ("a", 1.0), 2: ("a", 2.0), 3: ("a", 3.0)
    }


def test_txn_clone_zero_copy_independent(spark, tmp_path):
    """Clone carries data, vector state, schema, and constraints;
    afterwards the two tables are fully independent (writes and vacuum
    on either side never affect the other)."""
    src = str(tmp_path / "src")
    TL.txn_append(
        spark,
        _df(spark, [(k, "a", float(k)) for k in (1, 2, 3, 4)]).coalesce(1),
        src,
        [],
    )
    TL.txn_delete(spark, src, F.col("k") == 2)
    TL.txn_add_constraint(spark, src, "v_pos", "v >= 0")
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(5, "a", 5.0, "x")], "k long, p string, v double, note string"
        ),
        src,
        [],
        merge_schema=True,
    )
    dst = str(tmp_path / "dst")
    r = TL.txn_clone(src, dst)
    assert r["files"] >= 2
    want = {
        (row["k"], row["note"])
        for row in TL.txn_read(spark, src).collect()
    }
    assert {
        (row["k"], row["note"]) for row in TL.txn_read(spark, dst).collect()
    } == want
    assert 2 not in {row["k"] for row in TL.txn_read(spark, dst).collect()}
    # schema + constraint rode along
    assert "note" in [f.name for f in TL.table_schema(dst).fields]
    with pytest.raises(TL.ConstraintViolationError):
        TL.txn_append(spark, _df(spark, [(9, "z", -1.0)]), dst, [])
    # divergent writes stay independent
    TL.txn_append(spark, _df(spark, [(10, "b", 10.0)]), dst, [])
    TL.txn_delete(spark, src, "k = 1")
    src_ks = {row["k"] for row in TL.txn_read(spark, src).collect()}
    dst_ks = {row["k"] for row in TL.txn_read(spark, dst).collect()}
    assert src_ks == {3, 4, 5}
    assert dst_ks == {1, 3, 4, 5, 10}
    # vacuuming one side never breaks the other (shared inodes persist)
    TL.txn_optimize(spark, src, target_file_bytes=1 << 30)
    TL.txn_vacuum(src)
    assert {row["k"] for row in TL.txn_read(spark, dst).collect()} == dst_ks
    with pytest.raises(ValueError, match="already exists"):
        TL.txn_clone(src, dst)


def test_partition_layout_is_table_metadata(spark, tmp_path):
    """A write whose partition_cols differ from the committed layout is
    refused: Spark's partition discovery silently drops root-level
    files when a scan mixes hive-dir and rootless shapes, so a
    divergent append would be committed data loss."""
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), path, ["p"])
    with pytest.raises(ValueError, match="partition layout"):
        TL.txn_append(spark, _df(spark, [(2, "b", 2.0)]), path, [])
    flat = str(tmp_path / "flat")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0)]), flat, [])
    with pytest.raises(ValueError, match="partition layout"):
        TL.txn_append(spark, _df(spark, [(2, "b", 2.0)]), flat, ["p"])
    # matching layouts still land on both
    TL.txn_append(spark, _df(spark, [(3, "c", 3.0)]), path, ["p"])
    TL.txn_append(spark, _df(spark, [(3, "c", 3.0)]), flat, [])
    assert set(_rows(spark, path)) == {1, 3}
    assert set(_rows(spark, flat)) == {1, 3}


# ------------------------------------------------------------------ #
# Bloom-filter point-lookup index
# ------------------------------------------------------------------ #
def _interleaved_table(spark, path, nfiles=6, n=600):
    """Commit ``nfiles`` files whose key ranges all span [0, n): id
    i lands in file i % nfiles, so min/max stats prune NOTHING for a
    point lookup — only the bloom filter can."""
    rows = [
        (i, f"u{i:05d}", float(i)) for i in range(n)
    ]
    for f in range(nfiles):
        part = [r for r in rows if r[0] % nfiles == f]
        TL.txn_append(
            spark,
            spark.createDataFrame(
                part, "id long, uid string, v double"
            ).coalesce(1),
            path,
            [],
        )
    return n


def test_bloom_prunes_interleaved_point_lookup(spark, tmp_path):
    """Stats can't prune interleaved keys; the bloom index keeps only
    true-positive files (≤ FP slack) and the result is identical."""
    path = str(tmp_path / "t")
    n = _interleaved_table(spark, path)
    # before the index: stats keep every file for a point lookup
    _, kept0, pruned0 = TL.prune_files(path, {"id": 17})
    assert pruned0 == [] and len(kept0) == 6
    res = TL.txn_bloom_build(spark, path, ["id", "uid"])
    assert res["indexed_files"] == 6 and res["indexed_rows"] == n
    _, kept, pruned = TL.prune_files(path, {"id": 17})
    assert len(kept) <= 2 and len(pruned) >= 4  # 1 true + FP slack
    got = TL.txn_read(spark, path, where={"id": 17}).collect()
    assert [(r["id"], r["uid"]) for r in got] == [(17, "u00017")]
    # string column probes through the same index
    _, kept_s, _ = TL.prune_files(path, {"uid": "u00017"})
    assert len(kept_s) <= 2
    got_s = TL.txn_read(spark, path, where={"uid": "u00017"}).collect()
    assert [r["id"] for r in got_s] == [17]


def test_bloom_absent_value_and_range_semantics(spark, tmp_path):
    """A probe for a never-inserted value prunes everything (empty
    result, zero I/O); RANGE predicates never consult the filter."""
    path = str(tmp_path / "t")
    _interleaved_table(spark, path)
    TL.txn_bloom_build(spark, path, ["id"])
    _, kept, _ = TL.prune_files(path, {"id": 10**9})
    assert kept == []
    assert TL.txn_read(spark, path, where={"id": 10**9}).count() == 0
    # a genuine range keeps files by stats alone (bloom is equality-only)
    _, kept_r, _ = TL.prune_files(path, {"id": (10, 20)})
    assert len(kept_r) == 6


def test_bloom_build_is_incremental_and_new_files_stay_safe(
    spark, tmp_path
):
    """Post-index appends have no sidecar: lookups stay CORRECT
    (keep-on-missing), and a re-build indexes only the new files."""
    path = str(tmp_path / "t")
    _interleaved_table(spark, path)
    TL.txn_bloom_build(spark, path, ["id"])
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(10_000, "new", 1.0)], "id long, uid string, v double"
        ).coalesce(1),
        path,
        [],
    )
    got = TL.txn_read(spark, path, where={"id": 10_000}).collect()
    assert [r["uid"] for r in got] == ["new"]
    res = TL.txn_bloom_build(spark, path, ["id"])
    assert res["indexed_files"] == 1  # only the new file
    _, kept, _ = TL.prune_files(path, {"id": 10_000})
    assert len(kept) == 1


def test_bloom_sidecars_swept_with_their_files(spark, tmp_path):
    """Optimize supersedes the originals; vacuum removes them AND
    their sidecars, leaving no dangling index entries."""
    path = str(tmp_path / "t")
    _interleaved_table(spark, path)
    TL.txn_bloom_build(spark, path, ["id"])
    root = TL._local_root(path)
    n_side = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "_bloom")))
    assert n_side == 6
    TL.txn_optimize(spark, path)
    TL.txn_vacuum(path)
    left = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(root, "_bloom"))
        for f in fs
    ]
    assert left == []  # every indexed original is gone
    # correctness without any index: full answer still right
    assert TL.txn_read(spark, path, where={"id": 17}).count() == 1


def test_clone_carries_bloom_index(spark, tmp_path):
    """A clone links the bloom sidecars with the data files, so the
    branch prunes point lookups immediately — and vacuuming the clone
    never disturbs the source's index (independent names)."""
    src = str(tmp_path / "src")
    _interleaved_table(spark, src)
    TL.txn_bloom_build(spark, src, ["id"])
    dst = str(tmp_path / "dst")
    TL.txn_clone(src, dst)
    _, kept, pruned = TL.prune_files(dst, {"id": 17})
    assert pruned and len(kept) <= 2
    assert TL.txn_read(spark, dst, where={"id": 17}).count() == 1
    TL.txn_optimize(spark, dst)
    TL.txn_vacuum(dst)
    # source index untouched by the clone's maintenance
    _, kept_s, pruned_s = TL.prune_files(src, {"id": 17})
    assert pruned_s and len(kept_s) <= 2


def test_in_list_lookup_prunes_and_matches(spark, tmp_path):
    """``where={col: [v1, v2]}`` — the multi-key CDC lookup: prunes
    per value (stats ∧ bloom), residual-filters with isin, and
    txn_count boundary-scans IN files (membership is per-row)."""
    path = str(tmp_path / "t")
    _interleaved_table(spark, path)
    TL.txn_bloom_build(spark, path, ["id"])
    _, kept, pruned = TL.prune_files(path, {"id": [17, 18]})
    assert pruned and len(kept) <= 4  # ≤2 true files + FP slack
    got = TL.txn_read(spark, path, where={"id": [17, 18]}).collect()
    assert sorted(r["id"] for r in got) == [17, 18]
    assert TL.txn_count(spark, path, where={"id": [17, 18]}) == 2
    # empty IN-list: nothing matches, nothing scanned
    assert TL.txn_read(spark, path, where={"id": []}).count() == 0
    # IN composes with a range on another column
    got2 = TL.txn_read(
        spark, path, where={"id": [17, 18], "v": (18.0, None)}
    ).collect()
    assert [r["id"] for r in got2] == [18]


def test_merge_prunes_probe_scan_to_candidate_files(
    spark, tmp_path, monkeypatch
):
    """A small CDC batch merges against only the files that may hold
    its keys (stats ∧ bloom) — the probe scan reads candidate files,
    not the table — and the result is identical to an unpruned
    merge."""
    path = str(tmp_path / "t")
    _interleaved_table(spark, path)  # 6 files, ids interleaved % 6
    TL.txn_bloom_build(spark, path, ["id"])
    reads: list[list[str]] = []
    orig = TL._read_files

    def spy(spark_, root_, rels, **kw):
        reads.append(sorted(rels))
        return orig(spark_, root_, rels, **kw)

    monkeypatch.setattr(TL, "_read_files", spy)
    src = spark.createDataFrame(
        [(17, "u-upd", -1.0), (10_000, "u-new", 0.5)],
        "id long, uid string, v double",
    )
    res = merge_into(spark, path, src, ["id"], [], txn=True)
    assert res["inserted"] and res["rewritten_files"] == 1
    # the probe scan touched a bloom-candidate subset, never all 6
    assert reads and all(len(r) <= 2 for r in reads)
    got = {r["id"]: r["uid"] for r in TL.txn_read(spark, path).collect()}
    assert got[17] == "u-upd" and got[10_000] == "u-new"
    assert len(got) == 601
    # disjoint-key batch: every file pruned, still a pure insert
    reads.clear()
    src2 = spark.createDataFrame(
        [(20_000, "far", 1.0)], "id long, uid string, v double"
    )
    res2 = merge_into(spark, path, src2, ["id"], [], txn=True)
    assert res2["inserted"] and res2["rewritten_files"] == 0
    assert all(len(r) <= 1 for r in reads)  # schema-carrier file only
    assert TL.txn_read(spark, path, where={"id": 20_000}).count() == 1


def test_write_time_bloom_property(spark, tmp_path):
    """``txn_set_bloom_cols`` makes every subsequent write index its
    own staged files; the property folds through checkpoints and
    clears with ``[]``."""
    path = str(tmp_path / "t")
    _interleaved_table(spark, path)  # v1..v6, no sidecars yet
    root = TL._local_root(path)

    def _sidecars():
        return sum(
            len(fs)
            for _, _, fs in os.walk(os.path.join(root, "_bloom"))
        )

    assert _sidecars() == 0
    TL.txn_set_bloom_cols(path, ["id"])  # v7
    TL.txn_bloom_build(spark, path, ["id"])  # backfill existing
    assert _sidecars() == 6

    def _one(k):
        return spark.createDataFrame(
            [(k, f"u{k}", 1.0)], "id long, uid string, v double"
        ).coalesce(1)

    TL.txn_append(spark, _one(50_001), path, [])  # v8: self-indexes
    assert _sidecars() == 7
    _, kept, pruned = TL.prune_files(path, {"id": 50_001})
    assert len(kept) == 1 and len(pruned) == 6
    # cross the checkpoint boundary (CHECKPOINT_EVERY=10): the
    # property must survive the fold
    TL.txn_append(spark, _one(50_002), path, [])  # v9
    TL.txn_append(spark, _one(50_003), path, [])  # v10 -> checkpoint
    assert TL.table_bloom_cols(path) == ["id"]
    TL.txn_append(spark, _one(50_004), path, [])  # v11: still indexes
    assert _sidecars() == 10
    # clearing stops write-time indexing (existing sidecars remain)
    TL.txn_set_bloom_cols(path, [])
    TL.txn_append(spark, _one(50_005), path, [])
    assert _sidecars() == 10
    assert TL.table_bloom_cols(path) == []


def test_optimize_zorder_reindexes_under_bloom_property(spark, tmp_path):
    """With the write-time property set, OPTIMIZE's rewritten files
    index themselves (stage_files hook), so point lookups keep
    pruning across compaction + vacuum."""
    path = str(tmp_path / "t")
    _interleaved_table(spark, path)
    TL.txn_set_bloom_cols(path, ["id"])
    TL.txn_bloom_build(spark, path, ["id"])  # backfill
    TL.txn_optimize(spark, path, zorder_by=["id"])  # full re-cluster
    TL.txn_vacuum(path)  # originals + their sidecars gone
    root = TL._local_root(path)
    live = {f for f in TL.snapshot(path)[1]}
    side = {
        os.path.relpath(os.path.join(dp, f), os.path.join(root, "_bloom"))
        for dp, _, fs in os.walk(os.path.join(root, "_bloom"))
        for f in fs
    }
    assert side == {f + ".json" for f in live}  # exactly the live set
    # and the lookup still prunes: z-ordered files have tight ranges,
    # bloom composes with stats
    _, kept, pruned = TL.prune_files(path, {"id": 17})
    assert len(kept) == 1
    assert TL.txn_read(spark, path, where={"id": 17}).count() == 1


def test_overwrite_where_replaces_partition_atomically(spark, tmp_path):
    """replaceWhere: one commit swaps a partition's contents; other
    partitions untouched; time travel keeps the old state; rows
    outside the target refuse; rival writers in the same partition
    conflict, disjoint ones commute."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        _df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]),
        path,
        ["p"],
    )
    res = TL.txn_overwrite_where(
        spark, path, _df(spark, [(9, "a", 9.0)]), {"p": "a"}
    )
    assert res["replaced_files"] >= 1 and res["new_files"] >= 1
    assert _rows(spark, path) == {9: ("a", 9.0), 3: ("b", 3.0)}
    # time travel: pre-overwrite snapshot intact
    assert _rows(spark, path, version=1) == {
        1: ("a", 1.0), 2: ("a", 2.0), 3: ("b", 3.0),
    }
    # a replacement row outside the target partition refuses
    with pytest.raises(ValueError, match="outside"):
        TL.txn_overwrite_where(
            spark, path, _df(spark, [(7, "b", 7.0)]), {"p": "a"}
        )
    # non-partition where key refuses
    with pytest.raises(ValueError, match="not partition columns"):
        TL.txn_overwrite_where(
            spark, path, _df(spark, [(7, "a", 7.0)]), {"k": 7}
        )
    # rival in the SAME partition conflicts: stage an overwrite
    # computed against the pre-append snapshot
    base = TL.latest_version(path)
    TL.txn_append(spark, _df(spark, [(10, "a", 10.0)]), path, ["p"])
    tag = "race-ow"
    adds = TL.stage_files(
        spark, _df(spark, [(11, "a", 11.0)]), path, ["p"], tag
    )
    _, kept = TL.snapshot(path, version=base)
    rm = [f for f in kept if "p=a" in f]
    with pytest.raises(TL.CommitConflictError):
        TL.commit(
            path, adds, rm, "overwrite", [], base_version=base,
        )
    # disjoint partition commutes: overwrite p=b while p=a grew
    res2 = TL.txn_overwrite_where(
        spark, path, _df(spark, [(30, "b", 30.0)]), {"p": "b"}
    )
    got = _rows(spark, path)
    assert got[30] == ("b", 30.0) and 3 not in got and got[10] == ("a", 10.0)


def test_partition_directory_pruning(spark, tmp_path):
    """Equality / IN on a hive partition column prunes by DIRECTORY
    (partition values are in the path, never in footers); odd values
    keep-on-doubt and results stay identical."""
    path = str(tmp_path / "t")
    TL.txn_append(
        spark,
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
        .repartition(3, "p"),
        path,
        ["p"],
    )
    _, kept, pruned = TL.prune_files(path, {"p": "a"})
    assert len(kept) == 1 and len(pruned) == 2
    assert _rows(spark, path) | {} == {
        1: ("a", 1.0), 2: ("b", 2.0), 3: ("c", 3.0),
    }
    got = TL.txn_read(spark, path, where={"p": "a"}).collect()
    assert [(r["k"], str(r["p"])) for r in got] == [(1, "a")]
    _, kept_in, _ = TL.prune_files(path, {"p": ["a", "c"]})
    assert len(kept_in) == 2
    got_in = TL.txn_read(spark, path, where={"p": ["a", "c"]}).collect()
    assert sorted(r["k"] for r in got_in) == [1, 3]
    # absent partition value: everything pruned, empty result
    _, kept_z, _ = TL.prune_files(path, {"p": "zz"})
    assert kept_z == []
    assert TL.txn_read(spark, path, where={"p": "zz"}).count() == 0
    # non-str/int value on a partition column: keep-on-doubt
    _, kept_f, _ = TL.prune_files(path, {"p": 1.5})
    assert len(kept_f) == 3


def test_analyze_backfills_stats_and_vacuum_dry_run(spark, tmp_path):
    """ANALYZE records footer stats for stat-less (adopted) files as a
    restat commit — data skipping starts applying — and vacuum's
    dry_run previews removals without deleting."""
    path = str(tmp_path / "t")
    # adopt a plain-parquet table: its v1 adopt commit has no stats
    _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1).write.parquet(
        path
    )
    TL.init_table(path)
    _, m, _ = TL._fold(path)
    assert all(s is None for s in m.values())
    _, kept0, pruned0 = TL.prune_files(path, {"k": (100, None)})
    assert pruned0 == []  # no stats: nothing prunes
    res = TL.txn_analyze(path)
    assert res["restatted"] == len(m) >= 1
    _, kept1, pruned1 = TL.prune_files(path, {"k": (100, None)})
    assert kept1 == [] and len(pruned1) == len(m)  # stats now prune
    assert TL.txn_analyze(path)["restatted"] == 0  # idempotent
    # restat survives the checkpoint fold
    for i in range(3, 13):
        TL.txn_append(
            spark, _df(spark, [(i, "a", float(i))]).coalesce(1), path, []
        )
    _, m2, _ = TL._fold(path)
    assert all(s is not None for s in m2.values())
    # dry-run vacuum: preview only
    TL.txn_optimize(spark, path)
    would = TL.txn_vacuum(path, dry_run=True)
    assert would
    root = TL._local_root(path)
    assert all(os.path.exists(os.path.join(root, f)) for f in would)
    assert sorted(TL.txn_vacuum(path)) == sorted(would)


def test_bloom_never_false_negative_across_types(spark, tmp_path):
    """The load-bearing bloom invariant: every inserted value probes
    as maybe-present — across ints, floats, unicode, timestamps,
    dates, booleans and bytes — including the cross-type folds the
    key normalizer guarantees (5 probes a DOUBLE 5.0, naive-UTC
    probes an aware write)."""
    import datetime as dt

    path = str(tmp_path / "t")
    rows = [
        (i, v, f"s{i}-é中文 {i}", float(i) / 3.0,
         dt.datetime(2024, 1, 1 + i % 27, i % 24, 30),
         dt.date(2024, 1, 1 + i % 27), i % 2 == 0, bytes([i % 250, 7]))
        for i, v in enumerate(
            list(range(-50, 50)) + [10**12 + 7, -(10**12)]
        )
    ]
    df = spark.createDataFrame(
        rows,
        "rid long, v long, s string, f double, t timestamp, "
        "d date, b boolean, y binary",
    )
    TL.txn_append(spark, df.repartition(4), path, [])
    TL.txn_bloom_build(
        spark, path, ["v", "s", "f", "t", "d", "b", "y"]
    )
    root = TL._local_root(path)
    _, m, _ = TL._fold(path)
    cache: dict = {}
    for i, v in enumerate([r[1] for r in rows]):
        row = rows[i]
        probes = {
            "v": v, "s": row[2], "f": row[3], "t": row[4],
            "d": row[5], "y": row[7],
        }
        # cross-type folds: int probes the double when integral
        if row[3].is_integer():
            probes["f"] = int(row[3])
        for col, val in probes.items():
            hit = any(
                TL._bloom_keeps(root, rel, col, val, val, cache)
                for rel in m
            )
            assert hit, f"false negative: {col}={val!r}"
    # and a value never inserted is (overwhelmingly) pruned everywhere
    miss = sum(
        1 for rel in m
        if not TL._bloom_keeps(
            root, rel, "v", 987_654_321, 987_654_321, cache
        )
    )
    assert miss == len(m)


def test_restore_past_bloom_rebuild_keeps_sidecar_era_correct(
    spark, tmp_path
):
    """RESTORE past a bloom rebuild (VERDICT r6 #8): OPTIMIZE rewrites
    the originals, a rebuild indexes the NEW files, then a restore
    brings the OLD files back. Sidecars are path-mirrored to immutable
    files, so each era's files carry their own-era filters — the
    restored reader must prune through the old sidecars (pruning still
    present, result exact) and never consult a new-era filter for an
    old file."""
    path = str(tmp_path / "t")
    _interleaved_table(spark, path)
    TL.txn_bloom_build(spark, path, ["id"])
    pre = TL.latest_version(path)
    TL.txn_optimize(spark, path)
    res = TL.txn_bloom_build(spark, path, ["id"])
    assert res["indexed_files"] >= 1  # the rewritten era got indexed
    r = TL.txn_restore(path, pre)
    assert r["restored_to"] == pre
    # old-era sidecars still prune the point lookup, exactly
    _, kept, pruned = TL.prune_files(path, {"id": 17})
    assert pruned and len(kept) <= 2
    got = TL.txn_read(spark, path, where={"id": 17}).collect()
    assert [(x["id"], x["uid"]) for x in got] == [(17, "u00017")]
    # conservative contract holds table-wide: pruned scan ≡ full scan
    assert {
        x["id"] for x in TL.txn_read(spark, path).collect()
    } == set(range(600))
    # an absent key still prunes everything through the old filters
    _, kept_a, _ = TL.prune_files(path, {"id": 10**9})
    assert kept_a == []


def test_vacuum_source_after_clone_keeps_clone_index_valid(
    spark, tmp_path
):
    """Clone-then-vacuum-SOURCE (VERDICT r6 #8): the clone hard-links
    data files and bloom sidecars under its own root, so a source-side
    rewrite + vacuum (which unlinks the SOURCE names) must leave the
    clone's index fully consultable — shared inodes persist until both
    sides drop them."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _interleaved_table(spark, src)
    TL.txn_bloom_build(spark, src, ["id"])
    TL.txn_clone(src, dst)
    TL.txn_optimize(spark, src)
    TL.txn_vacuum(src)  # source-era names (data + sidecars) vanish
    root = TL._local_root(src)
    assert not any(
        fs for _, _, fs in os.walk(os.path.join(root, "_bloom"))
    )
    # the clone still prunes AND answers exactly through its links
    _, kept, pruned = TL.prune_files(dst, {"id": 17})
    assert pruned and len(kept) <= 2
    got = TL.txn_read(spark, dst, where={"id": 17}).collect()
    assert [(x["id"], x["uid"]) for x in got] == [(17, "u00017")]
    # and the source's own post-rewrite reads stay exact
    assert TL.txn_read(spark, src, where={"id": 17}).count() == 1


def test_append_split_matches_sequential_appends(spark, tmp_path):
    """txn_append_split = one write job, N commits; each commit's
    visible rows, version numbering, time travel, and per-file stats
    must match the sequential txn_append form it replaces."""
    rows = [(i, "a" if i % 3 == 0 else "b", float(i)) for i in range(30)]
    df = _df(spark, rows)
    split = (
        F.when(F.col("k") < 10, F.lit(1))
        .when(F.col("k") < 20, F.lit(2))
        .otherwise(F.lit(3))
    )

    p_seq = str(tmp_path / "seq")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        TL.txn_append(
            spark, df.filter((F.col("k") >= lo) & (F.col("k") < hi)), p_seq, []
        )
    p_split = str(tmp_path / "split")
    vers = TL.txn_append_split(spark, df, p_split, split, [1, 2, 3])

    assert vers == [1, 2, 3]
    for v in (1, 2, 3):
        assert _rows(spark, p_split, version=v) == _rows(spark, p_seq, version=v)
    # router column never lands in the data files
    assert TL.txn_read(spark, p_split).columns == ["k", "p", "v"]
    # stats recorded per commit (data skipping stays armed)
    hist = {r["version"]: r["op"] for r in TL.txn_history(spark, p_split).collect()}
    assert hist == {1: "append", 2: "append", 3: "append"}
    got = TL.txn_read(spark, p_split, where={"k": (0, 9)})
    assert {r["k"] for r in got.collect()} == set(range(10))


def test_append_split_empty_slice_raises(spark, tmp_path):
    df = _df(spark, [(1, "a", 1.0)])
    with pytest.raises(ValueError, match="no rows routed"):
        TL.txn_append_split(
            spark, df, str(tmp_path / "t"), F.lit(1), [1, 2]
        )


def test_dv_free_read_plans_as_bare_parquet_relation(spark, tmp_path):
    """The hot path: every storage read is a txn_read, and each plan
    node above the scan costs planning time per call. Without deletion
    vectors the read is the parquet relation alone; a vector adds the
    row identity and the anti-join."""
    path = str(tmp_path / "t")
    TL.txn_append(spark, _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path, [])

    def plan():
        qe = TL.txn_read(spark, path)._jdf.queryExecution()
        return qe.analyzed().toString()

    bare = plan()
    assert bare.startswith("Relation ") and "parquet" in bare, bare
    assert "Project" not in bare and "Join" not in bare, bare
    TL.txn_delete(spark, path, F.col("k") == 1)
    assert "Join LeftAnti" in plan()
