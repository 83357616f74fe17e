"""Pins for the round-11 ADVICE items.

1 (medium): struct-stats temporal pruning — parsed datetime stats must
   serialize ISO-'T', and the shared keep test reads timestamp stats and
   bounds as instants whichever separator they carry; a file whose max
   shares the bound's date must never be pruned, while truly-outside
   files still prune.
2 (low): cleanup_delta_log's retention floor is commit arithmetic on
   the int head (the inner checkpoint-name loop no longer shadows it).
3 (low): offset pagination's unique-key determinism caveat is stated
   in the table_rows contract and the cursor mode is the
   deterministic path (tests/test_keyset_pagination.py).
4 (low): HadoopFileIO.list_dir documents client-side start_after
   (O(log) per trigger) — doc-level, asserted below as a docstring pin
   so a silent doc regression shows up.
"""

import json
import os

from django_datastream_spark import txnlog as TL
from django_datastream_spark.sources import delta as DL
from django_datastream_spark.sources.fileio import HadoopFileIO


# ── 1: temporal separator guard ───────────────────────────────────────
def _ts_meta(md=None):
    """A Delta metaData whose schema carries a ``ts`` timestamp."""
    md = dict(md or {"partitionColumns": [], "configuration": {}})
    sch = json.loads(md.get("schemaString") or '{"fields": []}')
    sch["type"] = "struct"
    sch["fields"] = sch["fields"] + [
        {"name": "ts", "type": "timestamp", "nullable": True, "metadata": {}}
    ]
    md["schemaString"] = json.dumps(sch)
    return md


def _keeps(stats, where) -> bool:
    adds = DL._adds_from_dicts(
        [{"path": "f", "partitionValues": {}, "stats": stats}]
    )
    return DL._prune_adds(
        None, _ts_meta(), adds, TL._norm_where(where)
    ).num_rows == 1


def test_may_match_keeps_overlapping_file_across_separators():
    # stats in the space form (what json.dumps(default=str) used to
    # emit), bound in ISO-'T' form: the file's max (23:00) is AFTER
    # the bound (12:00) on the same date — it must be KEPT; the old
    # lexicographic compare (' ' < 'T') wrongly pruned it.
    stats = json.dumps({
        "minValues": {"ts": "2024-01-05 01:00:00+00:00"},
        "maxValues": {"ts": "2024-01-05 23:00:00+00:00"},
    })
    assert _keeps(
        stats, {"ts": ("2024-01-05T12:00:00+00:00", None)}
    )
    # and symmetrically for the upper bound
    assert _keeps(
        stats, {"ts": (None, "2024-01-05T12:00:00+00:00")}
    )
    # truly-outside files still prune in BOTH separator mixes
    assert not _keeps(
        stats, {"ts": ("2024-01-06T00:00:00+00:00", None)}
    )
    assert not _keeps(
        stats, {"ts": (None, "2024-01-04T00:00:00+00:00")}
    )
    # bound in space form against T-form stats (foreign writers)
    stats_t = json.dumps({
        "minValues": {"ts": "2024-01-05T01:00:00"},
        "maxValues": {"ts": "2024-01-05T23:00:00"},
    })
    assert _keeps(
        stats_t, {"ts": ("2024-01-05 12:00:00", None)}
    )
    assert not _keeps(
        stats_t, {"ts": ("2024-01-06 00:00:00", None)}
    )


def test_fill_from_parsed_serializes_temporals_iso_t(tmp_path):
    """End-to-end: a struct-stats-only checkpoint with TIMESTAMP
    min/max folds into skipping stats whose serialized form carries
    the 'T' separator, and a T-form where= bound prunes correctly."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from tests.test_delta import _meta, _write_data

    root = str(tmp_path / "t")
    _write_data(root, "a.parquet", [0, 1])
    _write_data(root, "b.parquet", [2, 3])
    ts_t = pa.timestamp("us", tz="UTC")
    stats_t = pa.struct([
        ("numRecords", pa.int64()),
        ("minValues", pa.struct([("ts", ts_t)])),
        ("maxValues", pa.struct([("ts", ts_t)])),
    ])
    add_t = pa.struct([
        ("path", pa.string()),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats_parsed", stats_t),
    ])
    meta_t = pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([("provider", pa.string())])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pa.map_(pa.string(), pa.string())),
    ])
    proto_t = pa.struct([
        ("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
    ])

    def _ts(d, h):
        return dt.datetime(2024, 1, d, h, tzinfo=dt.timezone.utc)

    adds = [
        # file a: all of Jan 4 — outside a bound at Jan 5 12:00
        {"path": "a.parquet", "size": 1, "modificationTime": 0,
         "dataChange": True,
         "stats_parsed": {"numRecords": 2, "minValues": {"ts": _ts(4, 1)},
                          "maxValues": {"ts": _ts(4, 23)}}},
        # file b: Jan 5 01:00..23:00 — STRADDLES the bound, must stay
        {"path": "b.parquet", "size": 1, "modificationTime": 0,
         "dataChange": True,
         "stats_parsed": {"numRecords": 2, "minValues": {"ts": _ts(5, 1)},
                          "maxValues": {"ts": _ts(5, 23)}}},
    ]
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None},
        {"protocol": None, "metaData": _ts_meta(_meta()["metaData"]),
         "add": None},
    ] + [{"protocol": None, "metaData": None, "add": a} for a in adds]
    tbl = pa.Table.from_pylist(rows, schema=pa.schema(
        [("protocol", proto_t), ("metaData", meta_t), ("add", add_t)]
    ))
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    pq_.write_table(tbl, os.path.join(log, f"{0:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write('{"version": 0}')

    _v, md, arrow_adds = DL.delta_snapshot_arrow(root)
    stats = [s for s in arrow_adds.column("stats").to_pylist() if s]
    assert len(stats) == 2
    for s in stats:
        mx = json.loads(s)["maxValues"]["ts"]
        assert "T" in mx, mx  # isoformat, never str(datetime)
    pruned = DL._prune_adds(
        None, md, arrow_adds,
        TL._norm_where({"ts": ("2024-01-05T12:00:00+00:00", None)}),
    )
    kept = pruned.column("path").to_pylist()
    assert kept == ["b.parquet"]  # straddler kept, Jan-4 file pruned


# ── 2: cleanup retention floor stays int arithmetic ──────────────────
def test_cleanup_retention_with_stale_checkpoints(tmp_path):
    root = str(tmp_path / "t")
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    from tests.test_delta import _meta

    DL.write_delta_commit(root, 0, [proto, _meta()])
    for v in range(1, 7):
        DL.write_delta_commit(root, v, [{"add": {
            "path": f"f{v}.parquet", "partitionValues": {},
            "size": 1, "modificationTime": 0, "dataChange": True,
        }}])
    DL.write_delta_checkpoint(root, 3)
    DL.write_delta_checkpoint(root, 5)
    res = DL.cleanup_delta_log(root, keep_commits=2)
    assert res["checkpoint"] == 5
    names = sorted(os.listdir(os.path.join(root, "_delta_log")))
    jsons = [int(n[:20]) for n in names if n.endswith(".json")]
    # head=6, keep_commits=2 → versions > 4 stay (and nothing below)
    assert jsons == [5, 6]
    # the SUPERSEDED checkpoint (3) went away, the newest (5) stays
    cps = [n for n in names if ".checkpoint." in n]
    assert cps == [f"{5:020d}.checkpoint.parquet"]


# ── 4: the Hadoop listing-cost caveat stays documented ────────────────
def test_hadoop_list_dir_documents_client_side_cursor():
    doc = HadoopFileIO.list_dir.__doc__ or ""
    assert "O(log size)" in doc and "StartAfter" in doc
