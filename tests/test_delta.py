"""Delta Lake reader interop: log fold (JSON + checkpoint), snapshot
isolation / time travel, hive and non-hive partition materialization,
fail-closed unsupported features, and zero-copy adopt into the txn
layer. Tables are built as REAL _delta_log trees via the module's
spec-conformant writer fixtures."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from django_datastream_spark import txnlog as TL
from django_datastream_spark.sources import delta as DL

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("part", IntegerType()),
        StructField("val", DoubleType()),
    ]
)


def _write_data(root, rel, ids, with_part=False):
    os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
    cols = {
        "doc_id": pa.array([int(i) for i in ids], pa.int64()),
        "val": pa.array([float(i) * 0.5 for i in ids], pa.float64()),
    }
    if with_part:
        cols["part"] = pa.array([int(i) % 2 for i in ids], pa.int32())
    pq.write_table(pa.table(cols), os.path.join(root, rel))


def _meta(partitioned=True):
    fields = (
        [f for f in SCHEMA.fields]
        if partitioned
        else [f for f in SCHEMA.fields if f.name != "part"]
    )
    return {
        "metaData": {
            "id": "test-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": StructType(fields).json(),
            "partitionColumns": ["part"] if partitioned else [],
            "configuration": {},
        }
    }


_PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _kept(md, adds, where):
    """Paths the shared keep test keeps (driver loop) for an Arrow
    add set or a list of add dicts."""
    if isinstance(adds, list):
        adds = DL._adds_from_dicts(adds)
    return DL._prune_adds(
        None, md, adds, TL._norm_where(where)
    ).column("path").to_pylist()


def _add(path, pv=None):
    return {
        "add": {
            "path": path,
            "partitionValues": pv or {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
    }


def _build_hive_table(root):
    """v0: parts 0/1 with ids 0..9; v1: add ids 10..13 to part=0;
    v2: REWRITE part=1's original file (val bumped)."""
    even = [i for i in range(10) if i % 2 == 0]
    odd = [i for i in range(10) if i % 2 == 1]
    _write_data(root, "part=0/f0.parquet", even)
    _write_data(root, "part=1/f1.parquet", odd)
    DL.write_delta_commit(
        root, 0,
        [_PROTO, _meta(),
         _add("part=0/f0.parquet", {"part": "0"}),
         _add("part=1/f1.parquet", {"part": "1"})],
    )
    _write_data(root, "part=0/f2.parquet", [10, 12])
    DL.write_delta_commit(
        root, 1, [_add("part=0/f2.parquet", {"part": "0"})]
    )
    # rewrite: odd ids with val + 100
    rel = "part=1/f3.parquet"
    os.makedirs(os.path.join(root, "part=1"), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(odd, pa.int64()),
                "val": pa.array([i * 0.5 + 100 for i in odd], pa.float64()),
            }
        ),
        os.path.join(root, rel),
    )
    DL.write_delta_commit(
        root, 2,
        [{"remove": {"path": "part=1/f1.parquet", "dataChange": True,
                     "deletionTimestamp": 0}},
         _add(rel, {"part": "1"})],
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["part"], r["val"])
        for r in df.collect()
    )


def test_read_latest_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_hive_table(root)
    got = DL.read_delta(spark, root)
    assert got.schema == SCHEMA
    want = [(i, i % 2, i * 0.5) for i in [0, 2, 4, 6, 8, 10, 12]] + [
        (i, 1, i * 0.5 + 100) for i in [1, 3, 5, 7, 9]
    ]
    assert _rows(got) == sorted(want)
    # v0: original ten rows, original vals
    v0 = DL.read_delta(spark, root, version=0)
    assert _rows(v0) == sorted((i, i % 2, i * 0.5) for i in range(10))
    # v1: + the appended evens, still pre-rewrite vals
    v1 = DL.read_delta(spark, root, version=1)
    assert _rows(v1) == sorted(
        (i, i % 2, i * 0.5) for i in list(range(10)) + [10, 12]
    )
    assert DL.delta_versions(root) == [0, 1, 2]


def test_unpartitioned_roundtrip(spark, tmp_path):
    root = str(tmp_path / "t")
    _write_data(root, "a.parquet", range(5), with_part=True)
    DL.write_delta_commit(
        root, 0, [_PROTO, _meta(partitioned=False), _add("a.parquet")]
    )
    got = DL.read_delta(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(5))
    assert [f.name for f in got.schema.fields] == ["doc_id", "val"]


def test_checkpoint_fold_and_log_cleanup(spark, tmp_path):
    """After a checkpoint at v1, the spec allows deleting commits
    <= v1 — the reader must serve latest from checkpoint + tail."""
    root = str(tmp_path / "t")
    _build_hive_table(root)
    before = _rows(DL.read_delta(spark, root))
    DL.write_delta_checkpoint(root, 1)
    for v in (0, 1):
        os.unlink(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    assert _rows(DL.read_delta(spark, root)) == before
    # and time travel TO the checkpoint version still works
    v1 = DL.read_delta(spark, root, version=1)
    assert len(v1.collect()) == 12


def test_corrupt_checkpoint_falls_back_to_json(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_hive_table(root)
    before = _rows(DL.read_delta(spark, root))
    DL.write_delta_checkpoint(root, 1)
    cp = os.path.join(
        root, "_delta_log", f"{1:020d}.checkpoint.parquet"
    )
    with open(cp, "wb") as f:
        f.write(b"not parquet")
    assert _rows(DL.read_delta(spark, root)) == before


def test_unsupported_features_fail_closed(spark, tmp_path):
    root = str(tmp_path / "t3")
    _write_data(root, "a.parquet", [1])
    DL.write_delta_commit(
        root, 0,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["typeWidening"]}},
         _meta(partitioned=False), _add("a.parquet")],
    )
    with pytest.raises(DL.DeltaUnsupportedError, match="typeWidening"):
        DL.read_delta(spark, root)
    # deletionVectors is a SUPPORTED reader feature now
    root_dv = str(tmp_path / "t3dv")
    _write_data(root_dv, "a.parquet", [1])
    DL.write_delta_commit(
        root_dv, 0,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["deletionVectors"]}},
         _meta(partitioned=False), _add("a.parquet")],
    )
    assert [r["doc_id"] for r in DL.read_delta(spark, root_dv).collect()] == [1]

    root2 = str(tmp_path / "t4")
    _write_data(root2, "a.parquet", [1])
    md = _meta(partitioned=False)
    md["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}
    DL.write_delta_commit(root2, 0, [_PROTO, md, _add("a.parquet")])
    with pytest.raises(DL.DeltaUnsupportedError, match="columnMapping"):
        DL.read_delta(spark, root2)

    root3 = str(tmp_path / "t5")
    _write_data(root3, "a.parquet", [1])
    bad = _add("a.parquet")
    bad["add"]["deletionVector"] = {
        "storageType": "z", "pathOrInlineDv": "x", "sizeInBytes": 4,
    }
    DL.write_delta_commit(
        root3, 0, [_PROTO, _meta(partitioned=False), bad]
    )
    with pytest.raises(DL.DeltaUnsupportedError, match="storageType"):
        DL.read_delta(spark, root3)
    # incomplete descriptor: fail closed at fold time
    root3b = str(tmp_path / "t5b")
    _write_data(root3b, "a.parquet", [1])
    bad2 = _add("a.parquet")
    bad2["add"]["deletionVector"] = {"storageType": "u"}
    DL.write_delta_commit(
        root3b, 0, [_PROTO, _meta(partitioned=False), bad2]
    )
    with pytest.raises(DL.DeltaUnsupportedError, match="missing"):
        DL.read_delta(spark, root3b)

    with pytest.raises(DL.DeltaUnsupportedError, match="no _delta_log"):
        DL.read_delta(spark, str(tmp_path / "missing"))


def test_non_hive_layout_uses_partition_values(spark, tmp_path):
    root = str(tmp_path / "t")
    _write_data(root, "f-a.parquet", [0, 2])
    _write_data(root, "f-b.parquet", [1, 3])
    DL.write_delta_commit(
        root, 0,
        [_PROTO, _meta(),
         _add("f-a.parquet", {"part": "0"}),
         _add("f-b.parquet", {"part": "1"})],
    )
    got = DL.read_delta(spark, root)
    assert got.schema == SCHEMA  # declared type, not inference
    assert _rows(got) == sorted(
        [(0, 0, 0.0), (2, 0, 1.0), (1, 1, 0.5), (3, 1, 1.5)]
    )


def test_adopt_delta_zero_copy(spark, tmp_path):
    from django_datastream_spark import txnlog as TL

    root = str(tmp_path / "t")
    _build_hive_table(root)
    want = _rows(DL.read_delta(spark, root))
    v = DL.adopt_delta(spark, root, root)
    assert v == 1
    got = TL.txn_read(spark, root)
    assert sorted(
        (r["doc_id"], int(r["part"]), r["val"]) for r in got.collect()
    ) == want
    # data skipping works immediately (footer stats at adopt)
    _, m = TL.snapshot_with_stats(root)
    assert any(s and "doc_id" in s["cols"] for s in m.values())
    pruned = TL.txn_read(spark, root, where={"doc_id": (10, 13)})
    assert sorted(r["doc_id"] for r in pruned.collect()) == [10, 12]
    # delta-removed file was NOT adopted
    _, files = TL.snapshot(root)
    assert "part=1/f1.parquet" not in files
    with pytest.raises(ValueError, match="already a txn table"):
        DL.adopt_delta(spark, root, root)


def test_adopt_rejects_non_hive_partitioned(spark, tmp_path):
    root = str(tmp_path / "t")
    _write_data(root, "flat.parquet", [0])
    DL.write_delta_commit(
        root, 0, [_PROTO, _meta(), _add("flat.parquet", {"part": "0"})]
    )
    with pytest.raises(DL.DeltaUnsupportedError, match="non-hive"):
        DL.adopt_delta(spark, root, root)
    with pytest.raises(ValueError, match="txn_root == delta_root"):
        DL.adopt_delta(spark, root, str(tmp_path / "elsewhere"))


def test_delta_changes_incremental(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_hive_table(root)
    # (0, 1]: exactly the appended evens, tagged with their commit
    ch = DL.delta_changes(spark, root, 0, 1)
    rows = sorted(
        (r["doc_id"], r["part"], r["_commit_version"])
        for r in ch.collect()
    )
    assert rows == [(10, 0, 1), (12, 0, 1)]
    # the rewrite commit fails closed by default...
    with pytest.raises(ValueError, match="rewrites"):
        DL.delta_changes(spark, root, 0).collect()
    # ...and streams its adds under ignore semantics
    ch2 = DL.delta_changes(spark, root, 1, on_remove="ignore")
    got = sorted(
        (r["doc_id"], r["val"], r["_commit_version"])
        for r in ch2.collect()
    )
    assert got == [(i, i * 0.5 + 100, 2) for i in [1, 3, 5, 7, 9]]
    # empty range yields an empty, correctly-typed frame
    empty = DL.delta_changes(spark, root, 2)
    assert empty.count() == 0
    assert "_commit_version" in empty.columns
    with pytest.raises(ValueError, match="bad version range"):
        DL.delta_changes(spark, root, 5)


def test_delta_changes_past_cleanup_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_hive_table(root)
    DL.write_delta_checkpoint(root, 1)
    os.unlink(os.path.join(root, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(ValueError, match="cleaned up"):
        DL.delta_changes(spark, root, 0, 2)


def test_read_delta_where_prunes_and_stays_exact(spark, tmp_path):
    root = str(tmp_path / "t")
    for k, (lo, hi) in enumerate([(0, 9), (10, 19), (20, 29)]):
        ids = list(range(lo, hi + 1))
        _write_data(root, f"f{k}.parquet", ids)
    adds = []
    for k, (lo, hi) in enumerate([(0, 9), (10, 19), (20, 29)]):
        a = _add(f"f{k}.parquet")
        a["add"]["stats"] = json.dumps(
            {"numRecords": 10, "minValues": {"doc_id": lo},
             "maxValues": {"doc_id": hi}}
        )
        adds.append(a)
    DL.write_delta_commit(
        root, 0, [_PROTO, _meta(partitioned=False)] + adds
    )
    got = DL.read_delta(spark, root, where={"doc_id": (12, 25)})
    assert sorted(r["doc_id"] for r in got.collect()) == list(
        range(12, 26)
    )
    # the pruning decision itself: file 0 provably out, others kept
    _v, md, live = DL.delta_snapshot(root)
    assert _kept(md, live, {"doc_id": (12, 25)}) == [
        "f1.parquet", "f2.parquet"
    ]
    # open bounds + missing stats stay conservative
    nostat = {"path": "x", "partitionValues": {}}
    assert _kept(md, [nostat], {"doc_id": (12, None)}) == ["x"]
    # result equals filtering a full read
    full = DL.read_delta(spark, root).filter(
        (F.col("doc_id") >= 12) & (F.col("doc_id") <= 25)
    )
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in full.collect()
    )


def test_read_delta_where_prunes_partitions(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_hive_table(root)
    _v, md, live = DL.delta_snapshot(root)
    assert _kept(md, live, {"part": (1, 1)}) == ["part=1/f3.parquet"]
    got = DL.read_delta(spark, root, where={"part": (1, 1)})
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 3, 5, 7, 9]


@settings(max_examples=60, deadline=None)
@given(data=hst.binary(max_size=200))
def test_delta_total_on_garbage_log(tmp_path_factory, data):
    """A garbage commit file fails closed (JSON/protocol errors), never
    returns a wrong live set silently."""
    root = str(tmp_path_factory.mktemp("g"))
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)
    with open(
        os.path.join(root, "_delta_log", f"{0:020d}.json"), "wb"
    ) as f:
        f.write(data)
    try:
        DL.delta_snapshot(root)
    except (DL.DeltaUnsupportedError, ValueError, KeyError,
            TypeError, AttributeError, UnicodeDecodeError):
        pass


def test_delta_multipart_checkpoint_read(spark, tmp_path):
    """Reader accepts the spec's multi-part checkpoint layout
    ({v}.checkpoint.{i}.{n}.parquet) — split a fixture checkpoint's
    rows across two parts and fold through them."""
    import pyarrow.parquet as _pq

    root = str(tmp_path / "t")
    _build_hive_table(root)
    before = _rows(DL.read_delta(spark, root))
    DL.write_delta_checkpoint(root, 1)
    log = os.path.join(root, "_delta_log")
    single = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    tbl = _pq.read_table(single)
    half = tbl.num_rows // 2
    _pq.write_table(
        tbl.slice(0, half),
        os.path.join(log, f"{1:020d}.checkpoint.0000000001.0000000002.parquet"),
    )
    _pq.write_table(
        tbl.slice(half),
        os.path.join(log, f"{1:020d}.checkpoint.0000000002.0000000002.parquet"),
    )
    os.unlink(single)
    # log cleanup below the checkpoint forces the multi-part fold
    for v in (0, 1):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    assert _rows(DL.read_delta(spark, root)) == before


def test_incomplete_multipart_checkpoint(spark, tmp_path):
    """A multi-part checkpoint missing a part must NEVER fold as a
    partial snapshot: with the JSON tail intact it falls back to the
    pure-JSON fold; with the tail cleaned up it fails closed."""
    import pyarrow.parquet as _pq

    root = str(tmp_path / "t")
    _build_hive_table(root)
    before = _rows(DL.read_delta(spark, root))
    DL.write_delta_checkpoint(root, 1)
    log = os.path.join(root, "_delta_log")
    single = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    tbl = _pq.read_table(single)
    # only part 1 of 2 exists
    _pq.write_table(
        tbl.slice(0, tbl.num_rows // 2),
        os.path.join(
            log, f"{1:020d}.checkpoint.0000000001.0000000002.parquet"
        ),
    )
    os.unlink(single)
    with pytest.raises(ValueError, match="incomplete"):
        DL._checkpoint_parts(root, 1)
    # JSON log intact: the fold recovers through it
    assert _rows(DL.read_delta(spark, root)) == before
    # tail cleaned up past the (broken) checkpoint: fail closed
    for v in (0, 1):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    with pytest.raises(DL.DeltaUnsupportedError, match="missing"):
        DL.read_delta(spark, root)


def test_version_past_head_raises(spark, tmp_path):
    """A pin at a not-yet-existing version must raise (Delta's
    contract), never clamp — a clamped read would silently change
    once that version is later committed."""
    root = str(tmp_path / "t")
    _build_hive_table(root)
    with pytest.raises(ValueError, match="does not exist"):
        DL.delta_snapshot(root, version=99)
    with pytest.raises(ValueError, match="does not exist"):
        DL.read_delta(spark, root, version=3)
    # the newest real version still pins fine
    assert DL.delta_snapshot(root, version=2)[0] == 2


def test_delta_changes_from_beginning(spark, tmp_path):
    """from_version=None / -1 makes commit 0 (the table-creating
    commit, carrying the initial adds) reachable through the feed."""
    root = str(tmp_path / "t")
    _build_hive_table(root)
    for fv in (None, -1):
        ch = DL.delta_changes(spark, root, fv, 1)
        got = sorted(
            (r["doc_id"], r["_commit_version"]) for r in ch.collect()
        )
        assert got == sorted(
            [(i, 0) for i in range(10)] + [(10, 1), (12, 1)]
        )
    with pytest.raises(ValueError, match="bad version range"):
        DL.delta_changes(spark, root, -2)


def test_v2_checkpoint_with_sidecars(spark, tmp_path):
    """V2 (UUID-named) checkpoint: protocol/metaData live in the
    manifest, the add set lives in _delta_log/_sidecars/ files named
    by sidecar actions. Fold through it after log cleanup; a missing
    sidecar fails closed instead of dropping live files."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    root = str(tmp_path / "t")
    _build_hive_table(root)
    before = _rows(DL.read_delta(spark, root))
    DL.write_delta_checkpoint(root, 2)
    log = os.path.join(root, "_delta_log")
    classic = os.path.join(log, f"{2:020d}.checkpoint.parquet")
    tbl = _pq.read_table(classic)
    os.unlink(classic)
    # split: adds → two sidecars, protocol/metaData stay in the manifest
    import pyarrow.compute as _pc

    adds = tbl.filter(_pc.is_valid(tbl.column("add")))
    scalars = tbl.filter(_pc.is_null(tbl.column("add")))
    os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
    half = max(1, adds.num_rows // 2)
    side_names = []
    for i, piece in enumerate((adds.slice(0, half), adds.slice(half))):
        name = f"s{i}.parquet"
        _pq.write_table(
            piece.select(["add"]),
            os.path.join(log, "_sidecars", name),
        )
        side_names.append(name)
    side_t = _pa.struct(
        [("path", _pa.string()), ("sizeInBytes", _pa.int64())]
    )
    n = scalars.num_rows + len(side_names)
    manifest = _pa.table(
        {
            "protocol": _pa.concat_arrays(
                [scalars.column("protocol").combine_chunks(),
                 _pa.nulls(len(side_names),
                           scalars.column("protocol").type)]
            ),
            "metaData": _pa.concat_arrays(
                [scalars.column("metaData").combine_chunks(),
                 _pa.nulls(len(side_names),
                           scalars.column("metaData").type)]
            ),
            "sidecar": _pa.array(
                [None] * scalars.num_rows
                + [{"path": s, "sizeInBytes": 1} for s in side_names],
                side_t,
            ),
        }
    )
    assert manifest.num_rows == n
    uuid_name = f"{2:020d}.checkpoint.0f0e-aa11-bb22.parquet"
    _pq.write_table(manifest, os.path.join(log, uuid_name))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 2}, f)
    for v in (0, 1, 2):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    assert _rows(DL.read_delta(spark, root)) == before
    # a missing sidecar must fail closed, never fold partially
    os.unlink(os.path.join(log, "_sidecars", side_names[1]))
    with pytest.raises(DL.DeltaUnsupportedError, match="sidecar|missing"):
        DL.read_delta(spark, root)


def test_timestamp_time_travel(spark, tmp_path):
    """AS OF TIMESTAMP: commitInfo.timestamp resolution (in-commit
    timestamps preferred over file mtime), newest-commit-at-or-before
    rule, before-first raises."""
    root = str(tmp_path / "t")
    _write_data(root, "a.parquet", [1])
    _write_data(root, "b.parquet", [2])
    DL.write_delta_commit(
        root, 0,
        [{"commitInfo": {"timestamp": 1000}}, _PROTO,
         _meta(partitioned=False), _add("a.parquet")],
    )
    DL.write_delta_commit(
        root, 1,
        [{"commitInfo": {"timestamp": 3000}}, _add("b.parquet")],
    )
    assert DL.delta_version_at(root, 1000) == 0
    assert DL.delta_version_at(root, 2999) == 0
    assert DL.delta_version_at(root, 3000) == 1
    got = DL.read_delta(spark, root, timestamp_ms=2000)
    assert sorted(r["doc_id"] for r in got.collect()) == [1]
    got2 = DL.read_delta(spark, root, timestamp_ms=99999)
    assert sorted(r["doc_id"] for r in got2.collect()) == [1, 2]
    with pytest.raises(ValueError, match="predates"):
        DL.read_delta(spark, root, timestamp_ms=999)
    with pytest.raises(ValueError, match="not both"):
        DL.read_delta(spark, root, version=0, timestamp_ms=1000)


def test_delta_cdf_reads_change_data_files(spark, tmp_path):
    """CHANGE DATA FEED: a commit carrying cdc actions serves exactly
    its _change_data rows (update pre/post images), add/remove
    ignored for CDC; CDF-less insert commits emit inserts; CDF-less
    deletes fail closed."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    root = str(tmp_path / "t")
    _write_data(root, "a.parquet", range(5))
    DL.write_delta_commit(
        root, 0, [_PROTO, _meta(partitioned=False), _add("a.parquet")]
    )
    # v1: an UPDATE commit — rewrite a.parquet bumping id 2's val,
    # with the cdc file recording the exact pre/post images
    os.makedirs(os.path.join(root, "_change_data"), exist_ok=True)
    ids = list(range(5))
    _pq.write_table(
        _pa.table(
            {
                "doc_id": _pa.array(ids, _pa.int64()),
                "val": _pa.array(
                    [i * 0.5 if i != 2 else 99.0 for i in ids],
                    _pa.float64(),
                ),
            }
        ),
        os.path.join(root, "b.parquet"),
    )
    _pq.write_table(
        _pa.table(
            {
                "doc_id": _pa.array([2, 2], _pa.int64()),
                "val": _pa.array([1.0, 99.0], _pa.float64()),
                "_change_type": _pa.array(
                    ["update_preimage", "update_postimage"],
                    _pa.string(),
                ),
            }
        ),
        os.path.join(root, "_change_data", "cdc-0.parquet"),
    )
    DL.write_delta_commit(
        root, 1,
        [{"remove": {"path": "a.parquet", "dataChange": True}},
         _add("b.parquet"),
         {"cdc": {"path": "_change_data/cdc-0.parquet",
                  "partitionValues": {}, "size": 1,
                  "dataChange": False}}],
    )
    feed = DL.delta_cdf(spark, root, None)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["doc_id"], r["val"])
        for r in feed.collect()
    )
    assert got == sorted(
        [(0, "insert", i, i * 0.5) for i in range(5)]
        + [(1, "update_preimage", 2, 1.0),
           (1, "update_postimage", 2, 99.0)]
    )
    # a CDF-less delete commit fails closed
    DL.write_delta_commit(
        root, 2,
        [{"remove": {"path": "b.parquet", "dataChange": True}}],
    )
    with pytest.raises(ValueError, match="no cdc actions"):
        DL.delta_cdf(spark, root, 1)


def test_checkpoint_with_only_parsed_stats_still_skips(spark, tmp_path):
    """A legal writer choice: checkpoint adds carrying ONLY
    stats_parsed / partitionValues_parsed (typed structs), no JSON
    string forms. The fold must translate them back so where= data
    skipping keeps working (silent no-skip at 10⁵ files is the bug)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    root = str(tmp_path / "t")
    even = [0, 2, 4, 6]
    odd = [11, 13, 15]
    _write_data(root, "part=0/a.parquet", even)
    _write_data(root, "part=1/b.parquet", odd)

    stats_t = pa.struct(
        [
            ("numRecords", pa.int64()),
            ("minValues", pa.struct([("doc_id", pa.int64())])),
            ("maxValues", pa.struct([("doc_id", pa.int64())])),
            ("nullCount", pa.struct([("doc_id", pa.int64())])),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues_parsed", pa.struct([("part", pa.int32())])),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats_parsed", stats_t),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )

    def _st(lo, hi, n):
        return {
            "numRecords": n,
            "minValues": {"doc_id": lo},
            "maxValues": {"doc_id": hi},
            "nullCount": {"doc_id": 0},
        }

    adds = [
        {"path": "part=0/a.parquet",
         "partitionValues_parsed": {"part": 0},
         "size": 1, "modificationTime": 0, "dataChange": True,
         "stats_parsed": _st(0, 6, len(even))},
        {"path": "part=1/b.parquet",
         "partitionValues_parsed": {"part": 1},
         "size": 1, "modificationTime": 0, "dataChange": True,
         "stats_parsed": _st(11, 15, len(odd))},
    ]
    md = _meta()["metaData"]
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None},
        {"protocol": None, "metaData": md, "add": None},
    ] + [{"protocol": None, "metaData": None, "add": a} for a in adds]
    tbl = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [("protocol", proto_t), ("metaData", meta_t), ("add", add_t)]
        ),
    )
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    pq_.write_table(
        tbl, os.path.join(log, f"{0:020d}.checkpoint.parquet")
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write('{"version": 0}')

    # reads hash-exact: partition column materializes from the parsed map
    got = sorted(
        (r["doc_id"], r["part"])
        for r in DL.read_delta(spark, root).collect()
    )
    assert got == sorted(
        [(i, 0) for i in even] + [(i, 1) for i in odd]
    )
    # data skipping actually prunes through the translated stats
    _v, md_r, arrow_adds = DL.delta_snapshot_arrow(root)
    assert arrow_adds.column("stats").null_count == 0
    assert len(_kept(md_r, arrow_adds, {"doc_id": (11, 15)})) == 1
    # and through the partition values
    assert len(_kept(md_r, arrow_adds, {"part": (1, 1)})) == 1
    got2 = sorted(
        r["doc_id"]
        for r in DL.read_delta(spark, root, where={"doc_id": (11, 15)})
        .collect()
    )
    assert got2 == odd


def test_checkpoint_without_any_stats_reads_with_no_skip(spark, tmp_path):
    """A checkpoint carrying neither stats form still reads correctly
    — skipping just keeps every file (documented degradation)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    root = str(tmp_path / "t")
    _write_data(root, "a.parquet", [1, 2, 3])
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    md = _meta(partitioned=False)["metaData"]
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None},
        {"protocol": None, "metaData": md, "add": None},
        {"protocol": None, "metaData": None,
         "add": {"path": "a.parquet", "partitionValues": [],
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    tbl = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [("protocol", proto_t), ("metaData", meta_t), ("add", add_t)]
        ),
    )
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    pq_.write_table(
        tbl, os.path.join(log, f"{0:020d}.checkpoint.parquet")
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write('{"version": 0}')
    assert sorted(
        r["doc_id"] for r in DL.read_delta(spark, root).collect()
    ) == [1, 2, 3]
    # no stats: the prune keeps everything (conservative, not wrong)
    _v, md_r, arrow_adds = DL.delta_snapshot_arrow(root)
    assert len(_kept(md_r, arrow_adds, {"doc_id": (99, 100)})) == 1
