"""Delta deletion-vector READ: the roaring codec (portable 32-bit +
Delta's RoaringBitmapArray framing + Z85 + the DV file format) proven
by round-trip and property tests, then the reader end to end — uuid
sidecar and inline storage, era-correct time travel across the DV
commit, checkpoint round trip, and the changes-feed contract."""

import os
import uuid

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst

from django_datastream_spark.sources import delta as DL
from django_datastream_spark.sources import roaring as RB
from tests.test_delta import _PROTO, _add, _meta, _write_data


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------
def test_roaring32_roundtrip_array_and_bitmap_containers():
    # array container (sparse) + bitmap container (dense) + two keys
    vals = (
        list(range(0, 10))
        + list(range(70000, 80000))  # >4096 in key=1 → bitmap container
        + [1 << 20, (1 << 20) + 7]
    )
    buf = RB.serialize_roaring32(vals)
    got, used = RB.deserialize_roaring32(memoryview(buf))
    assert used == len(buf)
    assert sorted(got.tolist()) == sorted(set(vals))


def test_roaring32_reads_run_containers():
    """Writers in the wild emit run containers — craft one by hand
    (cookie 12347, run flag set) and decode."""
    import struct

    n = 1
    cookie = RB.SERIAL_COOKIE | ((n - 1) << 16)
    run_flags = bytes([1])
    desc = struct.pack("<HH", 0, 7 - 1)  # key 0, cardinality 7
    # runs: [3..5] and [10..13]  → 3+4 = 7 members
    body = struct.pack("<H", 2) + struct.pack("<HH", 3, 2) + struct.pack(
        "<HH", 10, 3
    )
    buf = struct.pack("<I", cookie) + run_flags + desc + body
    got, used = RB.deserialize_roaring32(memoryview(buf))
    assert used == len(buf)
    assert got.tolist() == [3, 4, 5, 10, 11, 12, 13]


@settings(max_examples=60, deadline=None)
@given(
    pos=hst.lists(
        hst.integers(min_value=0, max_value=2**40), max_size=300
    )
)
def test_rba_roundtrip_property(pos):
    data = RB.encode_dv_data(pos)
    got = RB.decode_dv_data(data)
    assert sorted(got.tolist()) == sorted(set(pos))


@settings(max_examples=60, deadline=None)
@given(data=hst.binary(max_size=64))
def test_z85_roundtrip_property(data):
    enc = RB.z85_encode(data)
    dec = RB.z85_decode(enc)[: len(data)]
    assert dec == data


def test_dv_file_roundtrip_and_crc(tmp_path):
    path = str(tmp_path / "dv.bin")
    off, size, card = RB.write_dv_file(path, [1, 3, 3, 99])
    assert card == 3
    got = RB.read_dv_file(path, off, size)
    assert got.tolist() == [1, 3, 99]
    # flip a payload byte → CRC must catch it
    with open(path, "r+b") as f:
        f.seek(off + 4 + 6)
        b = f.read(1)
        f.seek(off + 4 + 6)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(ValueError, match="checksum"):
        RB.read_dv_file(path, off, size)


def test_uuid_descriptor_path_roundtrip():
    u = uuid.uuid4()
    enc = RB.make_uuid_descriptor_path(u, prefix="ab/")
    assert RB.dv_relative_path(enc) == f"ab/deletion_vector_{u}.bin"
    enc2 = RB.make_uuid_descriptor_path(u)
    assert RB.dv_relative_path(enc2) == f"deletion_vector_{u}.bin"


# ---------------------------------------------------------------------------
# reader end to end
# ---------------------------------------------------------------------------
def _dv_commit_actions(root, rel, positions, storage="u"):
    """remove+re-add of ``rel`` carrying a DV over ``positions`` —
    the action shape delta writers emit for a row-level delete."""
    if storage == "u":
        u = uuid.uuid4()
        dv_rel = f"deletion_vector_{u}.bin"
        off, size, card = RB.write_dv_file(
            os.path.join(root, dv_rel), positions
        )
        desc = {
            "storageType": "u",
            "pathOrInlineDv": RB.make_uuid_descriptor_path(u),
            "offset": off,
            "sizeInBytes": size,
            "cardinality": card,
        }
    else:
        data = RB.encode_dv_data(positions)
        desc = {
            "storageType": "i",
            "pathOrInlineDv": RB.z85_encode(data),
            "sizeInBytes": len(data),
            "cardinality": len(set(positions)),
        }
    a = _add(rel)
    a["add"]["deletionVector"] = desc
    return [
        {"remove": {"path": rel, "dataChange": True}},
        a,
    ]


def _build_dv_table(root, storage="u"):
    """v0: ten rows [0..9]; v1: DV deletes rows at positions 1,3 (ids
    1,3); v2: DV grows to positions 1,3,5."""
    _write_data(root, "a.parquet", range(10))
    DL.write_delta_commit(
        root, 0, [_PROTO, _meta(partitioned=False), _add("a.parquet")]
    )
    DL.write_delta_commit(
        root, 1, _dv_commit_actions(root, "a.parquet", [1, 3], storage)
    )
    DL.write_delta_commit(
        root, 2,
        _dv_commit_actions(root, "a.parquet", [1, 3, 5], storage),
    )


@pytest.mark.parametrize("storage", ["u", "i"])
def test_read_delta_applies_deletion_vectors(spark, tmp_path, storage):
    root = str(tmp_path / "t")
    _build_dv_table(root, storage)
    assert sorted(
        r["doc_id"] for r in DL.read_delta(spark, root).collect()
    ) == [0, 2, 4, 6, 7, 8, 9]
    # era-correct time travel: v0 full, v1 first vector only
    assert sorted(
        r["doc_id"]
        for r in DL.read_delta(spark, root, version=0).collect()
    ) == list(range(10))
    assert sorted(
        r["doc_id"]
        for r in DL.read_delta(spark, root, version=1).collect()
    ) == [0, 2, 4, 5, 6, 7, 8, 9]
    # small vectors: the positions frame is sized from the descriptors'
    # cardinalities and broadcast, so the scan itself is not shuffled
    plan = DL.read_delta(spark, root)._jdf.queryExecution().executedPlan()
    assert "BroadcastHashJoin" in plan.toString(), plan.toString()
    assert "SortMergeJoin" not in plan.toString(), plan.toString()


def test_dv_survives_checkpoint(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_dv_table(root, "u")
    before = sorted(
        r["doc_id"] for r in DL.read_delta(spark, root).collect()
    )
    DL.write_delta_checkpoint(root, 2)
    for v in (0, 1, 2):
        os.unlink(
            os.path.join(root, "_delta_log", f"{v:020d}.json")
        )
    assert sorted(
        r["doc_id"] for r in DL.read_delta(spark, root).collect()
    ) == before


@pytest.mark.parametrize(
    "f0,f1",
    [
        ("part=0/f0.parquet", "part=1/f1.parquet"),
        # non-hive: partition values live only in the log — one file
        # sits in a directory naming the WRONG partition, one in a
        # plain directory
        ("part=1/f0.parquet", "flat/f1.parquet"),
    ],
    ids=["hive", "non-hive"],
)
def test_dv_with_partitions_and_where(spark, tmp_path, f0, f1):
    """DV'd and clean files mix in one partitioned snapshot; data
    skipping composes with the anti-join."""
    root = str(tmp_path / "t")
    even = [0, 2, 4, 6, 8]
    odd = [1, 3, 5, 7, 9]
    _write_data(root, f0, even)
    _write_data(root, f1, odd)
    DL.write_delta_commit(
        root, 0,
        [_PROTO, _meta(),
         _add(f0, {"part": "0"}),
         _add(f1, {"part": "1"})],
    )
    # delete positions 0 and 4 of the odd file (ids 1 and 9)
    acts = _dv_commit_actions(root, f1, [0, 4], "u")
    acts[1]["add"]["partitionValues"] = {"part": "1"}
    DL.write_delta_commit(root, 1, acts)
    got = sorted(
        (r["doc_id"], r["part"])
        for r in DL.read_delta(spark, root).collect()
    )
    assert got == sorted(
        [(i, 0) for i in even] + [(3, 1), (5, 1), (7, 1)]
    )
    # partition pruning still composes
    only1 = DL.read_delta(spark, root, where={"part": (1, 1)})
    assert sorted(r["doc_id"] for r in only1.collect()) == [3, 5, 7]


def test_delta_changes_across_dv_commit(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_dv_table(root, "u")
    with pytest.raises(
        ValueError, match="deletion vector|cannot stream as appends"
    ):
        DL.delta_changes(spark, root, 0, 1).collect()
    ch = DL.delta_changes(spark, root, 0, 1, on_remove="ignore")
    # re-emission of the file's LIVE rows (minus the vector)
    assert sorted(r["doc_id"] for r in ch.collect()) == [
        0, 2, 4, 5, 6, 7, 8, 9,
    ]


def test_dv_cardinality_mismatch_fails(spark, tmp_path):
    root = str(tmp_path / "t")
    _write_data(root, "a.parquet", range(10))
    DL.write_delta_commit(
        root, 0, [_PROTO, _meta(partitioned=False), _add("a.parquet")]
    )
    acts = _dv_commit_actions(root, "a.parquet", [1, 3], "u")
    acts[1]["add"]["deletionVector"]["cardinality"] = 7  # lie
    DL.write_delta_commit(root, 1, acts)
    with pytest.raises(Exception, match="cardinality|descriptor says"):
        DL.read_delta(spark, root).collect()


def test_adopt_delta_converts_dvs_to_txn_sidecars(spark, tmp_path):
    """Zero-copy adopt of a DV-carrying table CONVERTS the vectors
    into engine _dv sidecars — the adopted txn read subtracts exactly
    the rows the Delta read did (bare adoption would resurrect
    them)."""
    from django_datastream_spark import txnlog as TL

    root = str(tmp_path / "t")
    _build_dv_table(root, "u")
    want = sorted(
        r["doc_id"] for r in DL.read_delta(spark, root).collect()
    )
    assert want == [0, 2, 4, 6, 7, 8, 9]
    DL.adopt_delta(spark, root, root)
    got = sorted(
        r["doc_id"] for r in TL.txn_read(spark, root).collect()
    )
    assert got == want
    # the vectors are REAL engine DVs: visible to snapshot_dv
    _v, dv = TL.snapshot_dv(root)
    assert dv and all(e[0]["n"] > 0 for e in dv.values())
