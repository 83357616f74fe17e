"""publish_delta — the write-side Delta counterpart of
publish_iceberg: an engine txn table published AS a real _delta_log
over the same data files, round-tripped through this repo's from-spec
reader. Covers per-version time travel, hive partition layouts,
OPTIMIZE as dataChange=false, stats translation (Delta-side
skipping), REAL deletion-vector export (txn DV sidecars → spec-framed
RoaringBitmapArray descriptors), schema evolution, re-publish and the
streaming leg over the published log."""

import os

import pytest
from pyspark.sql import functions as F

from django_datastream_spark import txnlog as TL
from django_datastream_spark.sources import delta as DL


def _mkdf(spark, ids, extra=False):
    rows = [(int(i), float(i) * 0.5) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, val double")
    if extra:
        df = df.withColumn("tag", F.concat(F.lit("t"), F.col("doc_id")))
    return df


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def test_publish_roundtrip_time_travel_and_optimize(spark, tmp_path):
    root = str(tmp_path / "t")
    TL.txn_append(spark, _mkdf(spark, range(10)).repartition(3), root, [])
    TL.txn_append(spark, _mkdf(spark, range(10, 20)), root, [])
    TL.txn_optimize(spark, root)
    head = TL.latest_version(root)
    res = DL.publish_delta(spark, root)
    assert res["published"] == [v - 1 for v in range(1, head + 1)]
    for v in range(1, head + 1):
        a = _ids(DL.read_delta(spark, root, version=v - 1))
        b = _ids(TL.txn_read(spark, root, version=v))
        assert a == b, f"txn v{v}"
    # optimize published as dataChange=false: the Delta changes feed
    # (and any Delta streaming consumer) skips it
    ch = DL.delta_changes(spark, root, None, on_remove="ignore")
    assert sorted(
        (r["doc_id"], r["_commit_version"]) for r in ch.collect()
    ) == sorted(
        [(i, 0) for i in range(10)] + [(i, 1) for i in range(10, 20)]
    )


def test_publish_hive_partitions_and_stats_skipping(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _mkdf(spark, range(40)).withColumn(
        "p", (F.col("doc_id") % 2).cast("int")
    )
    TL.txn_append(spark, df, root, ["p"])
    DL.publish_delta(spark, root)
    got = DL.read_delta(spark, root)
    assert sorted(got.columns) == ["doc_id", "p", "val"]
    rows = sorted((r["doc_id"], r["p"]) for r in got.collect())
    assert rows == [(i, i % 2) for i in range(40)]
    # translated stats actually prune (every add carries them)
    _v, md, adds = DL.delta_snapshot_arrow(root)
    assert adds.column("stats").null_count == 0
    pruned = DL._prune_adds(
        None, md, adds, TL._norm_where({"doc_id": (35, 39)})
    )
    assert pruned.num_rows < adds.num_rows
    got2 = DL.read_delta(spark, root, where={"doc_id": (35, 39)})
    assert _ids(got2) == list(range(35, 40))


def test_publish_exports_deletion_vectors_for_real(spark, tmp_path):
    root = str(tmp_path / "t")
    TL.txn_append(spark, _mkdf(spark, range(20)).repartition(2), root, [])
    TL.txn_delete(spark, root, F.col("doc_id") % 3 == 0)
    res = DL.publish_delta(spark, root)
    assert res["delta_versions"] == 2
    # the published log declares the feature and carries descriptors
    _v, _md, adds = DL.delta_snapshot_arrow(root)
    dvc = adds.column("deletionVector")
    assert dvc.null_count < len(dvc)
    # era-exact: pre-delete and post-delete both match txn time travel
    assert _ids(DL.read_delta(spark, root, version=0)) == list(range(20))
    want = [i for i in range(20) if i % 3 != 0]
    assert _ids(DL.read_delta(spark, root, version=1)) == want
    assert _ids(TL.txn_read(spark, root)) == want
    # a second delete grows the vectors; still era-exact
    TL.txn_delete(spark, root, F.col("doc_id") == 7)
    DL.publish_delta(spark, root)
    assert _ids(DL.read_delta(spark, root)) == [
        i for i in want if i != 7
    ]
    assert _ids(DL.read_delta(spark, root, version=1)) == want


def test_publish_schema_evolution_and_republish(spark, tmp_path):
    root = str(tmp_path / "t")
    TL.txn_append(spark, _mkdf(spark, range(5)), root, [])
    r1 = DL.publish_delta(spark, root)
    assert r1["published"] == [0]
    TL.txn_append(
        spark, _mkdf(spark, range(5, 10), extra=True), root, [],
        merge_schema=True,
    )
    r2 = DL.publish_delta(spark, root, checkpoint=True)
    assert r2["published"] == [1]
    got = DL.read_delta(spark, root)
    assert [f.name for f in got.schema.fields] == ["doc_id", "val", "tag"]
    rows = sorted((r["doc_id"], r["tag"]) for r in got.collect())
    assert rows == sorted(
        [(i, None) for i in range(5)]
        + [(i, f"t{i}") for i in range(5, 10)]
    )
    # the checkpoint alone can serve the table (spec log cleanup)
    for v in (0, 1):
        os.unlink(
            os.path.join(root, "_delta_log", f"{v:020d}.json")
        )
    assert _ids(DL.read_delta(spark, root)) == list(range(10))


def test_published_log_streams_through_delta_table_source(
    spark, tmp_path
):
    from django_datastream_spark.sources import external_stream as XS

    root = str(tmp_path / "t")
    TL.txn_append(spark, _mkdf(spark, range(8)), root, [])
    TL.txn_append(spark, _mkdf(spark, range(8, 12)), root, [])
    DL.publish_delta(spark, root)
    XS.register(spark)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = (
        spark.readStream.format("delta_table")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert sorted(
        (r["doc_id"], r["_commit_version"]) for r in got.collect()
    ) == sorted(
        [(i, 0) for i in range(8)] + [(i, 1) for i in range(8, 12)]
    )


def test_publish_fails_closed_without_schema(spark, tmp_path):
    # adopted (schema-untracked) logs can't publish
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, TL.TXN_DIR), exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64())}),
        os.path.join(root, "a.parquet"),
    )
    TL.commit(root, ["a.parquet"], [], "adopt", [], base_version=0)
    with pytest.raises(DL.DeltaUnsupportedError, match="schema"):
        DL.publish_delta(spark, root)


def test_publish_with_change_data_feed(spark, tmp_path):
    """publish_delta(change_data_feed=True) ships _change_data files
    for every row-deleting/rewriting version, so delta_cdf serves the
    ENGINE's exact row-level history (instead of failing closed on
    the DV'd adds) — and it must agree with txn_changes
    change-for-change."""
    from django_datastream_spark import txnlog as TL
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i) * 0.5) for i in range(10)], "doc_id long, val double"
    )
    TL.txn_append(spark, df, root, [])                      # txn v1
    TL.txn_delete(spark, root, F.col("doc_id") % 3 == 0)    # txn v2
    TL.txn_update(                                          # txn v3
        spark, root, F.col("doc_id") == 1, {"val": F.lit(100.0)}
    )
    DL.publish_delta(spark, root, change_data_feed=True)
    md = DL.delta_snapshot(root)[1]
    assert (md.get("configuration") or {}).get(
        "delta.enableChangeDataFeed"
    ) == "true"
    feed = sorted(
        (r["_commit_version"], r["_change_type"], r["doc_id"], r["val"])
        for r in DL.delta_cdf(spark, root, None).collect()
    )
    want = sorted(
        (r["_commit_version"] - 1, r["_change_type"], r["doc_id"], r["val"])
        for r in TL.txn_changes(
            spark, root, 0, change_types=True
        ).collect()
    )
    assert feed == want
    # spot-check semantics: v2 deletes exactly the %3 rows, v3 carries
    # the update pre/post images
    assert [(t, d) for v, t, d, _ in feed if v == 1] == [
        ("delete", 0), ("delete", 3), ("delete", 6), ("delete", 9)
    ]
    v2 = sorted((t, d, x) for v, t, d, x in feed if v == 2)
    assert v2 == [
        ("update_postimage", 1, 100.0), ("update_preimage", 1, 0.5)
    ]
