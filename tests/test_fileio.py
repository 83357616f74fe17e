"""The read-side FileIO seam (sources/fileio.py) — the metadata plane
served through an injectable storage interface so S3/GCS-resident
lakehouse tables read without a FUSE mount.

Strategy: build each fixture with the normal POSIX writers into a
directory, then read it BACK through a registered FakeObjectStore
scheme (object verbs only — flat keys, whole/ranged GET, StartAfter
prefix listing) and assert byte-identical results vs the POSIX read.
Because ``fake://…`` paths do not exist as POSIX paths, ANY code path
that still touches ``os.*``/``open`` for metadata — driver OR executor
(DV decode, distributed manifest decode) — fails outright, which makes
these twins the "executor tasks never touch os directly" proof.

Also pins the streaming LISTING CURSOR: a trigger on a hot log lists
O(new commits) and re-parses only new commit JSONs (counting double).
"""

import os
import pickle

import pytest
from pyspark.sql import functions as F

from django_datastream_spark import txnlog as TL
from django_datastream_spark.sources import delta as DL
from django_datastream_spark.sources import fileio as FIO
from django_datastream_spark.sources import iceberg as IB
from tests.test_delta import _PROTO, _add, _build_hive_table, _meta, _write_data
from tests.test_delta_dv import _build_dv_table, _dv_commit_actions
from tests.test_iceberg import FIELDS, _build_nonmonotonic_table, _data


@pytest.fixture
def fake_store(tmp_path):
    """A FakeObjectStore registered under a unique-per-test scheme;
    yields (store, root_posix, root_fake)."""
    scheme = f"fake{os.getpid()}"
    backing = str(tmp_path / "bucket")
    os.makedirs(backing, exist_ok=True)
    store = FIO.FakeObjectStore(scheme, backing)
    FIO.register_fileio(scheme, store)
    try:
        yield store, os.path.join(backing, "t"), f"{scheme}://t"
    finally:
        FIO.unregister_fileio(scheme)


# ── unit: the double itself ───────────────────────────────────────────
def test_fake_store_object_semantics(fake_store):
    store, posix, fake = fake_store
    store.put_bytes(f"{fake}/a/00001.json", b"one")
    store.put_bytes(f"{fake}/a/00002.json", b"two")
    store.put_bytes(f"{fake}/a/00010.json", b"ten")
    assert store.list_dir(f"{fake}/a") == [
        "00001.json", "00002.json", "00010.json",
    ]
    # StartAfter: strictly-greater key-range listing
    assert store.list_dir(f"{fake}/a", start_after="00002.json") == [
        "00010.json"
    ]
    assert store.list_dir(f"{fake}/missing") == []  # no dirs, no error
    assert store.read_bytes(f"{fake}/a/00001.json") == b"one"
    assert store.read_range(f"{fake}/a/00002.json", 1, 2) == b"wo"
    assert store.exists(f"{fake}/a/00010.json")
    assert not store.exists(f"{fake}/a/00011.json")
    assert store.counters["list"] >= 3
    assert store.counters["get"] == 1
    # picklable (executor closures capture the instance)
    clone = pickle.loads(pickle.dumps(store))
    assert clone.read_bytes(f"{fake}/a/00001.json") == b"one"


def test_fake_store_failure_injection(fake_store):
    store, posix, fake = fake_store
    store.put_bytes(f"{fake}/x/y.bin", b"data")
    store.fail_substr = "y.bin"
    with pytest.raises(FIO.FakeObjectStoreError):
        store.read_bytes(f"{fake}/x/y.bin")
    store.fail_substr = None
    assert store.read_bytes(f"{fake}/x/y.bin") == b"data"


def test_io_for_unknown_scheme_fails_with_guidance():
    with pytest.raises(ValueError, match="register_fileio"):
        FIO.io_for("s3del://bucket/table")


# ── delta reads through the object store ─────────────────────────────
def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def test_delta_hive_table_reads_via_object_store(spark, fake_store):
    _store, posix, fake = fake_store
    _build_hive_table(posix)
    want = DL.read_delta(spark, posix)
    got = DL.read_delta(spark, fake)
    assert sorted(map(tuple, want.collect())) == sorted(
        map(tuple, got.collect())
    )
    # time travel + version listing through the seam
    assert DL.delta_versions(fake) == [0, 1, 2]
    assert _ids(DL.read_delta(spark, fake, version=0)) == list(range(10))
    # where= pruning consumes stats through the seam
    got2 = DL.read_delta(spark, fake, where={"doc_id": (10, 13)})
    assert _ids(got2) == [10, 12]


@pytest.mark.parametrize("storage", ["u", "i"])
def test_delta_dv_decodes_executor_side_via_object_store(
    spark, fake_store, storage
):
    """The DV anti-join's bitmap decode runs INSIDE mapInPandas tasks;
    a fake:// root means any direct open() there would fail — passing
    proves executor metadata reads go through the captured FileIO."""
    _store, posix, fake = fake_store
    _build_dv_table(posix, storage)
    assert _ids(DL.read_delta(spark, fake)) == [0, 2, 4, 6, 7, 8, 9]
    assert _ids(DL.read_delta(spark, fake, version=1)) == [
        0, 2, 4, 5, 6, 7, 8, 9,
    ]


def test_delta_checkpointed_table_via_object_store(spark, fake_store):
    _store, posix, fake = fake_store
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(12)], "doc_id long, val double"
        ),
        posix,
        [],
    )
    TL.txn_delete(spark, posix, F.col("doc_id") % 3 == 0)
    DL.publish_delta(spark, posix, checkpoint=True)
    # drop the JSON tail: the fold must come from the checkpoint alone
    for v in (0, 1):
        os.unlink(os.path.join(posix, "_delta_log", f"{v:020d}.json"))
    want = [i for i in range(12) if i % 3 != 0]
    assert _ids(DL.read_delta(spark, fake)) == want
    # ledger fold (checkpoint parquet) through the seam too
    assert DL.last_txn_versions(fake) == DL.last_txn_versions(posix)


def test_delta_cdf_and_changes_via_object_store(spark, fake_store):
    _store, posix, fake = fake_store
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "doc_id long, val double"
        ),
        posix,
        [],
    )
    TL.txn_delete(spark, posix, F.col("doc_id") < 2)
    DL.publish_delta(spark, posix, change_data_feed=True)
    a = sorted(map(tuple, DL.delta_cdf(spark, posix, None).collect()))
    b = sorted(map(tuple, DL.delta_cdf(spark, fake, None).collect()))
    assert a == b and a
    c = sorted(
        map(
            tuple,
            DL.delta_changes(spark, fake, None, on_remove="ignore")
            .collect(),
        )
    )
    assert c == sorted(
        map(
            tuple,
            DL.delta_changes(spark, posix, None, on_remove="ignore")
            .collect(),
        )
    )


# ── iceberg reads through the object store ───────────────────────────
def test_iceberg_reads_via_object_store(spark, fake_store):
    _store, posix, fake = fake_store
    _build_nonmonotonic_table(posix)
    want = sorted(map(tuple, IB.read_iceberg(spark, posix).collect()))
    got = sorted(map(tuple, IB.read_iceberg(spark, fake).collect()))
    assert want == got and want


def _build_iceberg_pos_delete_table(posix):
    """One snapshot: data A (ids 0-4) and B (ids 5-9), and a position
    delete of A's rows 0 and 2 — live ids 1, 3-9."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _data(posix, "data/A.parquet", range(0, 5))
    _data(posix, "data/B.parquet", range(5, 10))
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array(
                    ["data/A.parquet", "data/A.parquet"], pa.string()
                ),
                "pos": pa.array([0, 2], pa.int64()),
            }
        ),
        os.path.join(posix, "data", "del.parquet"),
    )
    IB.write_manifest(posix, "mA.avro", [(1, "data/A.parquet")], 1)
    IB.write_manifest(posix, "mB.avro", [(1, "data/B.parquet")], 1)
    IB.write_manifest(
        posix, "mD.avro", [(1, "data/del.parquet")], 1, entry_content=1
    )
    IB.write_manifest_list(
        posix, "snap-1.avro",
        [("mA.avro", 1, 0, 1), ("mD.avro", 1, 1, 2), ("mB.avro", 1, 0, 3)],
        1,
    )
    IB.write_metadata(
        posix, 1, FIELDS,
        [{"snapshot-id": 1, "manifest-list": "metadata/snap-1.avro"}],
        current_snapshot_id=1,
    )


def test_iceberg_position_deletes_and_distributed_decode_via_store(
    spark, fake_store, monkeypatch
):
    """Forces the DISTRIBUTED manifest decode (mapInPandas) over a
    fake:// root: manifest Avro reads inside executor tasks must use
    the captured FileIO."""
    _store, posix, fake = fake_store
    _build_iceberg_pos_delete_table(posix)
    monkeypatch.setattr(IB, "DISTRIBUTED_MANIFESTS_AT", 2)
    got = IB.read_iceberg(spark, fake)
    assert sorted(r["doc_id"] for r in got.collect()) == [
        1, 3, 4, 5, 6, 7, 8, 9,
    ]


def test_iceberg_injected_failure_propagates(spark, fake_store):
    store, posix, fake = fake_store
    _build_nonmonotonic_table(posix)
    store.fail_substr = ".avro"
    with pytest.raises(FIO.FakeObjectStoreError):
        IB.read_iceberg(spark, fake).collect()
    store.fail_substr = None


def test_iceberg_field_id_sniff_failure_propagates(spark, fake_store):
    """A failed data-file footer sniff must raise: answering "no field
    ids" falls back to name matching, which reads a renamed column as
    nulls."""
    store, posix, fake = fake_store
    _build_nonmonotonic_table(posix)
    store.fail_substr = ".parquet"
    with pytest.raises(FIO.FakeObjectStoreError):
        IB.read_iceberg(spark, fake).collect()
    store.fail_substr = None


# ── streaming sources over the object store + the listing cursor ─────
def _drain(spark, fmt, table, cp, out, **opts):
    from django_datastream_spark.sources import external_stream as XS

    XS.register(spark)
    r = spark.readStream.format(fmt).option("path", table)
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    return spark.read.parquet(out)


def test_delta_stream_over_object_store(spark, fake_store, tmp_path):
    _store, posix, fake = fake_store
    _build_hive_table(posix)
    got = _drain(
        spark, "delta_table", fake,
        str(tmp_path / "cp"), str(tmp_path / "out"),
        ignoreChanges="true",
        fileio=FIO.encode_fileio(_store),
    )
    want = _drain(
        spark, "delta_table", posix,
        str(tmp_path / "cp2"), str(tmp_path / "out2"),
        ignoreChanges="true",
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_iceberg_stream_over_object_store(spark, fake_store, tmp_path):
    _store, posix, fake = fake_store
    _build_nonmonotonic_table(posix)
    got = _drain(
        spark, "iceberg_table", fake,
        str(tmp_path / "cp"), str(tmp_path / "out"),
        fileio=FIO.encode_fileio(_store),
    )
    want = _drain(
        spark, "iceberg_table", posix,
        str(tmp_path / "cp2"), str(tmp_path / "out2"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_streaming_listing_cursor_lists_o_new_per_trigger(fake_store):
    """The VERDICT-prescribed pin: on a hot log, each latestOffset
    lists only names AFTER the newest version seen and re-parses only
    NEW commit JSONs — O(new commits), not O(log size). Driven at the
    reader-object level (the exact code Spark calls per trigger)."""
    from django_datastream_spark.sources.external_stream import (
        DeltaTableStreamReader,
    )

    store, posix, fake = fake_store
    n = 200  # stands in for the 10⁴ case; counters scale linearly
    _write_data(posix, "f0.parquet", range(4))
    acts = [_PROTO, _meta(partitioned=False), _add("f0.parquet")]
    DL.write_delta_commit(posix, 0, acts)
    for v in range(1, n):
        DL.write_delta_commit(posix, v, [_add("f0.parquet")])

    rdr = DeltaTableStreamReader({"path": fake, "maxFilesPerTrigger": "5"}, None)
    rdr.initialOffset()
    first = rdr.latestOffset()
    rdr.partitions({"v": -1}, first)
    base_get = store.counters.get("get", 0)
    base_list = store.counters.get("list", 0)
    # a quiet trigger: one listing call, ZERO commit re-parses
    off = rdr.latestOffset()
    rdr.partitions(first, off)
    # O(1) listing calls per trigger (a list + an is_dir check per
    # _list_versions, twice: latestOffset + partitions) — never a
    # per-commit walk
    assert store.counters.get("list", 0) - base_list <= 4
    quiet_gets = store.counters.get("get", 0) - base_get
    assert quiet_gets <= first["v"] - (-1)  # pacing may read ahead
    # 3 new commits: the next trigger GETs only what pacing touches
    base_get = store.counters.get("get", 0)
    base_list = store.counters.get("list", 0)
    for v in range(n, n + 3):
        DL.write_delta_commit(posix, v, [_add("f0.parquet")])
    off2 = rdr.latestOffset()
    assert off2["v"] > off["v"]
    assert store.counters.get("list", 0) - base_list <= 4
    assert store.counters.get("get", 0) - base_get <= 6
    # drain to head in paced slices; TOTAL gets stay O(n), i.e. each
    # commit JSON is parsed at most twice (pacing + plan) — never
    # O(n) per trigger
    base_get = store.counters.get("get", 0)
    cur = off
    triggers = 0
    while cur["v"] < n + 2:
        nxt = rdr.latestOffset()
        rdr.partitions(cur, nxt)
        cur = nxt
        triggers += 1
        assert triggers < 2 * n
    assert store.counters.get("get", 0) - base_get <= 2 * (n + 3)


# ── HadoopFileIO: metadata through the JVM Hadoop layer ──────────────
@pytest.fixture
def hadoop_io(spark):
    """HadoopFileIO registered for file:// URIs (the local Hadoop
    filesystem stands in for s3a/gs/abfss — same FileSystem API)."""
    h = FIO.HadoopFileIO(spark)
    FIO.register_fileio("file", h)
    try:
        yield h
    finally:
        FIO.unregister_fileio("file")


def test_hadoop_fileio_verbs(spark, hadoop_io, tmp_path):
    d = tmp_path / "x"
    d.mkdir()
    (d / "a.bin").write_bytes(b"hello world")
    (d / "b.bin").write_bytes(b"zz")
    u = f"file://{d}"
    assert hadoop_io.list_dir(u) == ["a.bin", "b.bin"]
    assert hadoop_io.list_dir(u, start_after="a.bin") == ["b.bin"]
    assert hadoop_io.read_bytes(f"{u}/a.bin") == b"hello world"
    assert hadoop_io.read_range(f"{u}/a.bin", 6, 5) == b"world"
    assert hadoop_io.read_range(f"{u}/a.bin", 6, 99) == b"world"  # EOF
    assert hadoop_io.exists(f"{u}/a.bin")
    assert not hadoop_io.exists(f"{u}/c.bin")
    assert hadoop_io.is_dir(u)
    assert hadoop_io.size(f"{u}/b.bin") == 2
    with pytest.raises(FileNotFoundError):
        hadoop_io.list_dir(f"file://{tmp_path}/missing")
    # driver-only: refuses to pickle with a pointed error
    with pytest.raises(TypeError, match="driver-only"):
        pickle.dumps(hadoop_io)


def test_delta_reads_via_hadoop_fileio(spark, hadoop_io, tmp_path):
    """Batch Delta reads over a Hadoop URI — incl. deletion vectors,
    which fall back to the driver-side decode (executor workers have
    no py4j gateway)."""
    posix = str(tmp_path / "t")
    _build_dv_table(posix, "u")
    u = f"file://{posix}"
    assert _ids(DL.read_delta(spark, u)) == [0, 2, 4, 6, 7, 8, 9]
    assert DL.delta_versions(u) == [0, 1, 2]
    assert _ids(DL.read_delta(spark, u, version=0)) == list(range(10))


def test_iceberg_reads_via_hadoop_fileio(spark, hadoop_io, tmp_path):
    posix = str(tmp_path / "t")
    _build_nonmonotonic_table(posix)
    u = f"file://{posix}"
    want = sorted(map(tuple, IB.read_iceberg(spark, posix).collect()))
    got = sorted(map(tuple, IB.read_iceberg(spark, u).collect()))
    assert want == got and want


# ── round-10 self-review regressions ─────────────────────────────────
def test_dv_antijoin_with_space_in_table_ROOT(spark, tmp_path):
    """The decode-then-slice fix: a root whose PARENT path contains an
    encodable char mis-aligned the old encoded-slice arithmetic and
    silently resurrected deleted rows — at the delta, txn and Iceberg
    layers, which share one row identity (txnlog._row_identity)."""
    base = tmp_path / "dir with space"
    base.mkdir()
    root = str(base / "t")
    _build_dv_table(root, "u")
    assert _ids(DL.read_delta(spark, root)) == [0, 2, 4, 6, 7, 8, 9]
    # txn layer: delete through _read_files' __file identity
    from django_datastream_spark import txnlog as TL
    from pyspark.sql import functions as F

    troot = str(base / "txn")
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "doc_id long, val double"
        ),
        troot, [],
    )
    TL.txn_delete(spark, troot, F.col("doc_id") < 3)
    assert _ids(TL.txn_read(spark, troot)) == list(range(3, 10))
    # Iceberg: position deletes against the full decoded file URI
    iroot = str(base / "ice")
    _build_iceberg_pos_delete_table(iroot)
    assert _ids(IB.read_iceberg(spark, iroot)) == [1, 3, 4, 5, 6, 7, 8, 9]


def test_starting_timestamp_resolves_through_shipped_fileio(fake_store):
    from django_datastream_spark.sources.external_stream import (
        DeltaTableStreamReader,
    )

    store, posix, fake = fake_store
    _build_hive_table(posix)
    ts1 = DL._commit_timestamp_ms(posix, 1)
    rdr = DeltaTableStreamReader(
        {
            "path": fake,
            "startingTimestamp": str(ts1),
            "fileio": FIO.encode_fileio(store),
        },
        None,
    )
    assert rdr.start_v == 0  # first batch begins at commit 1


def test_field_id_sniff_through_the_seam(fake_store):
    import pyarrow as pa
    import pyarrow.parquet as pq

    store, posix, fake = fake_store
    os.makedirs(posix, exist_ok=True)
    sch = pa.schema(
        [pa.field("doc_id", pa.int64(), metadata={b"PARQUET:field_id": b"1"})]
    )
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64())}, schema=sch),
        os.path.join(posix, "a.parquet"),
    )
    assert IB._files_carry_field_ids([f"{fake}/a.parquet"], store)
    # sniffed through the seam — RANGED GETs since round 11 (footer
    # sniffs must not buffer a whole data file), whole-object GET
    # accepted for older adapters
    assert (
        store.counters.get("get_range", 0) + store.counters.get("get", 0)
        >= 1
    )


def test_truncate_zero_width_rejected():
    fields = [{"id": 1, "name": "k", "required": False, "type": "long"}]
    with pytest.raises(IB.IcebergUnsupportedError, match=">= 1"):
        IB._parse_partition_spec(
            [{"source": "k", "transform": "truncate[0]"}], fields
        )


def test_detect_survives_symlink_cycle(tmp_path):
    from django_datastream_spark.sources import detect as DET

    d = tmp_path / "d"
    d.mkdir()
    (d / "loop").symlink_to(d)
    with pytest.raises(ValueError, match="no table here"):
        DET.detect_table_format(str(d))
    # a DIRECTORY named x.parquet is not a parquet file
    d2 = tmp_path / "d2"
    (d2 / "x.parquet").mkdir(parents=True)
    with pytest.raises(ValueError, match="no table here"):
        DET.detect_table_format(str(d2))


def test_catalog_concurrent_registration_loses_nothing(spark, tmp_path):
    import threading

    from django_datastream_spark.api import Datastream

    droot = str(tmp_path / "d")
    _build_hive_table(droot)
    ds = Datastream(spark, str(tmp_path / "store"))
    errs = []

    def reg(i):
        try:
            Datastream(spark, str(tmp_path / "store")).register_external_table(
                f"t{i}", droot
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=reg, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert [e["name"] for e in ds.external_tables()] == [
        f"t{i}" for i in range(8)
    ]


def test_injected_failure_propagates_through_oserror_fallbacks(
    spark, fake_store
):
    """FakeObjectStoreError must NOT be an OSError: the readers'
    metadata fallbacks (missing _last_checkpoint etc.) catch OSError,
    and an injected fault has to surface, not vanish into them."""
    store, posix, fake = fake_store
    _build_hive_table(posix)
    assert not isinstance(FIO.FakeObjectStoreError("x"), OSError)
    store.fail_substr = "_delta_log"
    with pytest.raises(FIO.FakeObjectStoreError):
        DL.delta_versions(fake)
    store.fail_substr = None


def test_txn_marker_on_uri_root_fails_loud(fake_store):
    from django_datastream_spark.sources import detect as DET

    store, posix, fake = fake_store
    os.makedirs(os.path.join(posix, "_txn_log"), exist_ok=True)
    with open(os.path.join(posix, "_txn_log", "x"), "w") as f:
        f.write("marker")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"x": pa.array([1])}),
        os.path.join(posix, "data.parquet"),
    )
    with pytest.raises(ValueError, match="POSIX-rooted"):
        DET.detect_table_format(fake)


def test_stream_cleaned_up_commit_diagnosis_survives_the_cache(
    fake_store
):
    from django_datastream_spark.sources.external_stream import (
        DeltaTableStreamReader,
    )

    store, posix, fake = fake_store
    _build_hive_table(posix)
    rdr = DeltaTableStreamReader(
        {"path": fake, "fileio": FIO.encode_fileio(store),
         "ignoreChanges": "true"},
        None,
    )
    rdr.initialOffset()
    rdr.latestOffset()  # caches versions {0,1,2}
    os.unlink(os.path.join(posix, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(ValueError, match="cleaned up"):
        rdr.partitions({"v": 0}, {"v": 2})
