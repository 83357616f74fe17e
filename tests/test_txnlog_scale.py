"""Scale tests for the txn log's METADATA PLANE (VERDICT r6 #1).

The data path (staged parquet, executor-side deletion vectors, footer
stats) was already scale-correct; these tests pin the metadata plane:

- checkpoints written as PARQUET (one row per live file) above
  ``PARQUET_CHECKPOINT_AT``, readable interchangeably with the legacy
  inline-JSON format across the full DML surface;
- ``txn_read(where=...)`` against a 100k-file snapshot planning WITHOUT
  materializing the file list in driver Python: the fold stays an Arrow
  table and pruning runs as a distributed mapInPandas job from which
  only survivors return.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from django_datastream_spark import txnlog as TL


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


def _rows_k(spark, path, **kw):
    return {
        r["k"] for r in TL.txn_read(spark, path, **kw).select("k").collect()
    }


def test_parquet_checkpoint_dml_equivalence(spark, tmp_path, monkeypatch):
    """The full DML surface — append, DV delete, update, optimize,
    restore, time travel, CDF, clone, vacuum — with checkpoints FORCED
    to the parquet format (threshold 0), asserted exactly. The same
    operations are covered under the legacy JSON format by
    test_txnlog.py, so together the two suites hold both formats to
    the same contract."""
    monkeypatch.setattr(TL, "PARQUET_CHECKPOINT_AT", 0)
    monkeypatch.setattr(TL, "CHECKPOINT_EVERY", 2)  # checkpoint often
    path = str(tmp_path / "t")
    TL.init_table(path)
    TL.txn_append(spark, _mk(spark, 0, 50).coalesce(1), path, [])
    TL.txn_append(spark, _mk(spark, 50, 100).coalesce(1), path, [])
    TL.txn_append(spark, _mk(spark, 100, 150).coalesce(1), path, [])

    # parquet checkpoints actually exist; headers carry no inline files
    log = os.path.join(path, TL.TXN_DIR)
    pq_cps = [n for n in os.listdir(log) if n.endswith(".files.pq")]
    assert pq_cps, os.listdir(log)
    newest = max(
        n for n in os.listdir(log)
        if n.startswith("checkpoint-") and n.endswith(".json")
    )
    with open(os.path.join(log, newest)) as f:
        header = json.load(f)
    assert "files_parquet" in header and "files" not in header

    assert _rows_k(spark, path) == set(range(150))

    # deletion vectors ride through parquet checkpoints
    TL.txn_delete(spark, path, "k >= 140")
    TL.txn_append(spark, _mk(spark, 150, 160).coalesce(1), path, [])
    TL.txn_append(spark, _mk(spark, 160, 170).coalesce(1), path, [])
    assert _rows_k(spark, path) == set(range(140)) | set(range(150, 170))

    # update (vector + rewrite rows)
    TL.txn_update(
        spark, path, "k = 0", {"v": F.lit(999.0)}
    )
    got = {
        (r["k"], r["v"])
        for r in TL.txn_read(spark, path, where={"k": (0, 1)}).collect()
    }
    assert got == {(0, 999.0), (1, 2.0)}

    # stats-based data skipping through a parquet checkpoint
    v_now, kept, pruned = TL.prune_files(path, {"k": (155, 158)})
    assert pruned, "expected some files pruned by stats"
    assert _rows_k(spark, path, where={"k": (155, 158)}) == {
        155, 156, 157, 158
    }

    # optimize (materializes vectors), then restore PAST it
    pre = TL.latest_version(path)
    TL.txn_optimize(spark, path)
    assert _rows_k(spark, path) == (
        set(range(140)) | set(range(150, 170))
    ) - {0} | {0}  # same logical rows
    r = TL.txn_restore(path, pre - 1)
    assert r["restored_to"] == pre - 1

    # time travel across format-mixed history
    assert _rows_k(spark, path, version=3) == set(range(150))

    # CDF over the same history still folds per-commit
    ch = TL.txn_changes(spark, path, 0, 3)
    assert ch.count() == 150

    # clone from a parquet-checkpointed source
    dst = str(tmp_path / "c")
    TL.txn_clone(path, dst)
    assert _rows_k(spark, dst) == _rows_k(spark, path)

    # vacuum with retention keeps every retained snapshot readable
    TL.txn_vacuum(path, retain_versions=1)
    assert _rows_k(spark, path) == _rows_k(spark, dst)


def test_txn_read_100k_files_plans_without_driver_fold(
    spark, tmp_path, monkeypatch
):
    """The 100 TB shape check: a snapshot of 100k files (4 real + the
    rest synthetic checkpoint rows whose stats exclude the predicate)
    must serve ``txn_read(where=...)`` with

    - NO dict fold on the driver (``_fold`` is poisoned),
    - pruning executed as a Spark job (the driver's ``_keep_file`` is
      spied and must not run — executors import the module fresh, so
      only a driver-side prune would touch the spy),
    - a correct result (the synthetic rels don't exist on disk, so any
      under-pruning would fail the scan outright)."""
    path = str(tmp_path / "big")
    TL.init_table(path)
    for lo in (0, 100, 200, 300):
        TL.txn_append(
            spark, _mk(spark, lo, lo + 100).coalesce(1), path, []
        )
    head = TL.latest_version(path)
    _, real_tbl = TL._fold_arrow(path)
    real = list(
        zip(
            real_tbl.column("rel").to_pylist(),
            real_tbl.column("stats").to_pylist(),
            real_tbl.column("dv").to_pylist(),
        )
    )
    assert len(real) == 4

    # fabricate a 100k-row parquet checkpoint at head: the real rows
    # plus synthetic files whose k-range can never match the predicate
    n_fake = 100_000 - len(real)
    fake_rels = [f"fake/part-{i:06d}.parquet" for i in range(n_fake)]
    fake_stats = [
        json.dumps(
            {
                "rows": 100,
                "cols": {
                    "k": {
                        "t": "num",
                        "min": 10_000 + i,
                        "max": 10_000 + i,
                        "nulls": 0,
                    }
                },
            }
        )
        for i in range(n_fake)
    ]
    tbl = pa.Table.from_pydict(
        {
            "rel": [r for r, _, _ in real] + fake_rels,
            "stats": [s for _, s, _ in real] + fake_stats,
            "dv": [d for _, _, d in real] + [None] * n_fake,
        },
        schema=TL._files_schema(),
    )
    log = os.path.join(path, TL.TXN_DIR)
    fp = f"checkpoint-v{head:010d}.files.pq"
    pq.write_table(tbl, os.path.join(log, fp))
    header = {
        "version": head,
        "files_parquet": fp,
        "app_txns": {},
        "schema": TL.table_schema_json(path, head),
        "constraints": {},
        "bloom_cols": [],
    }
    with open(os.path.join(log, f"checkpoint-v{head:010d}.json"), "w") as f:
        json.dump(header, f)

    # the snapshot now reports 100k live files through the Arrow fold
    _, big = TL._fold_arrow(path)
    assert big.num_rows == 100_000

    # poison the dict fold; spy the driver's keep test
    def boom(*a, **k):
        raise AssertionError(
            "txn_read must not dict-fold the file list on the driver"
        )

    calls = {"n": 0}
    orig_keep = TL._keep_file

    def spy_keep(*a, **k):
        calls["n"] += 1
        return orig_keep(*a, **k)

    monkeypatch.setattr(TL, "_fold", boom)
    monkeypatch.setattr(TL, "_keep_file", spy_keep)
    monkeypatch.setattr(TL, "DISTRIBUTED_PRUNE_AT", 1_000)

    got = {
        r["k"]
        for r in TL.txn_read(spark, path, where={"k": (150, 250)})
        .select("k")
        .collect()
    }
    assert got == set(range(150, 251))
    assert calls["n"] == 0, "prune ran driver-side, not as a Spark job"

    # the one threshold forces Delta's prune distributed too: two real
    # files plus synthetic adds (no file behind them) whose stats
    # exclude the predicate
    from django_datastream_spark.sources import delta as DL

    droot = str(tmp_path / "delta")
    os.makedirs(droot)
    adds = []
    for i, (lo, hi) in enumerate([(0, 199), (200, 399)]):
        pq.write_table(
            pa.table({"k": pa.array(range(lo, hi + 1), pa.int64())}),
            os.path.join(droot, f"real{i}.parquet"),
        )
        adds.append((f"real{i}.parquet", lo, hi))
    adds += [(f"fake{i}.parquet", 10_000 + i, 10_000 + i) for i in range(2_000)]
    DL.write_delta_commit(droot, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": {}},
            ]}),
            "partitionColumns": [], "configuration": {},
        }},
    ] + [
        {"add": {
            "path": p, "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps({"numRecords": hi - lo + 1,
                                 "minValues": {"k": lo},
                                 "maxValues": {"k": hi}}),
        }}
        for p, lo, hi in adds
    ])
    got = {
        r["k"]
        for r in DL.read_delta(spark, droot, where={"k": (150, 250)})
        .collect()
    }
    assert got == set(range(150, 251))
    assert calls["n"] == 0, "Delta prune ran driver-side"


def test_distributed_footer_stats_match_driver_loop(
    spark, tmp_path, monkeypatch
):
    """collect_file_stats above DISTRIBUTED_STATS_AT runs as a Spark
    job (executor-side footer reads, only (rel, stats JSON) back);
    the recorded commit stats must be byte-identical to the driver
    loop's, and data skipping must work off them."""
    path = str(tmp_path / "t")
    TL.init_table(path)
    monkeypatch.setattr(TL, "DISTRIBUTED_STATS_AT", 1)
    TL.txn_append(
        spark,
        _mk(spark, 0, 400).repartition(4, "k"),
        path,
        [],
    )
    _, m = TL.snapshot_with_stats(path)
    assert len(m) == 4 and all(s is not None for s in m.values())
    # identical to the driver loop on the same files
    driver = TL.collect_file_stats(path, sorted(m), spark=None)
    assert driver == {f: m[f] for f in sorted(m)}
    # and skipping actually applies
    _, kept, pruned = TL.prune_files(path, {"k": (0, 0)})
    assert pruned and len(kept) < 4
    got = {r["k"] for r in TL.txn_read(spark, path, where={"k": (0, 5)}).collect()}
    assert got == set(range(6))
