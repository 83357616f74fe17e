"""The shared data-skipping core (txnlog._keep_file) over all three
logs: random per-file row sets, each file's metadata encoded the way
each log records it — txn footer stats (plus hive directories for
partition columns), Delta ``add.stats`` / ``partitionValues``, and
Iceberg manifest lower/upper bounds — and a random ``where``.

Floats are drawn WITH NaN, in rows and in bounds: pyarrow and Iceberg
bounds leave NaN out of a column's min/max, and Spark orders NaN above
every number (NaN equals NaN), which ``_matches`` follows. So a float
max below ``lo`` proves a miss only together with a numeric ``hi``."""

import datetime as dt
import functools
import json
import math
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import example, given, settings
from hypothesis import strategies as hst

from django_datastream_spark import txnlog as TL
from django_datastream_spark.sources import delta as DL
from django_datastream_spark.sources import iceberg as IB

UTC = dt.timezone.utc
_TS = hst.builds(
    dt.datetime, hst.just(2024), hst.just(1), hst.integers(1, 3),
    hst.sampled_from([0, 12, 23]), hst.just(0), hst.just(0),
    hst.sampled_from([0, 1500, 999_000]),
)
_TZS = [UTC, dt.timezone(dt.timedelta(hours=5)),
        dt.timezone(dt.timedelta(hours=-3))]

# name → (value strategy, arrow type, Delta type, Iceberg type)
TYPES = {
    "int": (hst.integers(-3, 3), pa.int64(), "long", "long"),
    "float": (
        hst.integers(-6, 6).map(lambda i: i / 2) | hst.just(math.nan),
        pa.float64(), "double", "double",
    ),
    "str": (hst.text("abc", min_size=1, max_size=2), pa.string(),
            "string", "string"),
    "tstr": (
        hst.tuples(_TS, hst.sampled_from(" T")).map(
            lambda p: p[0].isoformat(p[1])
        ),
        pa.string(), "string", "string",
    ),
    "date": (
        hst.dates(dt.date(2024, 1, 1), dt.date(2024, 1, 4)),
        pa.date32(), "date", "date",
    ),
    "ts": (_TS, pa.timestamp("us"), "timestamp_ntz", "timestamp"),
    "tstz": (
        hst.tuples(_TS, hst.sampled_from(_TZS)).map(
            lambda p: p[0].replace(tzinfo=UTC).astimezone(p[1])
        ),
        pa.timestamp("us", tz="UTC"), "timestamp", "timestamptz",
    ),
    "bool": (hst.booleans(), pa.bool_(), "boolean", "boolean"),
    "allnull": (hst.integers(-3, 3), pa.int64(), "long", "long"),
}


@hst.composite
def cases(draw):
    """(type name, partition?, per-file row values, where bound,
    Delta timestamp stats truncated to ms like delta-spark?)"""
    name = draw(hst.sampled_from(sorted(TYPES)))
    val = TYPES[name][0]
    cell = hst.none() if name == "allnull" else hst.none() | val
    part = name != "allnull" and draw(hst.booleans())
    files = []
    for _ in range(draw(hst.integers(1, 4))):
        if part:
            files.append([draw(cell)] * draw(hst.integers(1, 3)))
        else:
            files.append(draw(hst.lists(cell, min_size=1, max_size=4)))
    shape = draw(hst.sampled_from(["range", "lo", "hi", "eq", "in"]))
    if shape == "range":
        bound = (draw(val), draw(val))
    elif shape == "lo":
        bound = (draw(val), None)
    elif shape == "hi":
        bound = (None, draw(val))
    elif shape == "eq":
        bound = draw(val)
    else:
        bound = draw(hst.lists(val, max_size=3))
    return name, part, files, bound, draw(hst.booleans())


def _nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _key(v):
    """Spark's order: NaN equals NaN and sorts above every number."""
    return (1, 0.0) if _nan(v) else (0, v)


def _matches(v, b) -> bool:
    """Spark's semantics for one row: NULL never matches."""
    if v is None:
        return False
    if isinstance(b, TL._In):
        return any(_key(v) == _key(x) for x in b)
    lo, hi = b
    return (lo is None or _key(v) >= _key(lo)) and (
        hi is None or _key(v) <= _key(hi)
    )


def _hive(v) -> str:
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return str(v).lower()
    return v.isoformat() if isinstance(v, dt.date) else str(v)


def _delta_pv(v):
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, dt.datetime):
        return v.astimezone(UTC).replace(tzinfo=None).isoformat(" ")
    return v.isoformat() if isinstance(v, dt.date) else str(v)


def _ms_stats(st_json: str | None) -> str | None:
    """delta-spark's timestamp stats form: milliseconds, 'Z'."""
    if not st_json:
        return st_json
    j = json.loads(st_json)
    for k in ("minValues", "maxValues"):
        v = (j.get(k) or {}).get("c")
        if isinstance(v, str) and "T" in v:
            j[k]["c"] = v[:23] + "Z"
    return json.dumps(j)


def _encode(d: str, name: str, part: bool, files: list, ms: bool):
    """Each file's metadata in all three logs' forms:
    [(txn fold row, Delta add, Iceberg data_file)]."""
    _v, arrow_t, _dt, ice_t = TYPES[name]
    out = []
    for i, rows in enumerate(files):
        fn = f"f{i}.parquet"
        # pyarrow stores an aware datetime's wall clock: hand it UTC
        utc = [
            v.astimezone(UTC) if isinstance(v, dt.datetime) and v.tzinfo
            else v
            for v in rows
        ]
        pq.write_table(
            pa.table({"c": pa.array(utc, arrow_t)}), os.path.join(d, fn)
        )
        st = TL._stats_of_file(d, fn)
        if part:
            rel = f"c={_hive(rows[0])}/{fn}"
            txn = (rel, json.dumps({"rows": len(rows), "cols": {}}))
            add = {"path": rel, "partitionValues": {"c": _delta_pv(rows[0])}}
        else:
            txn = (fn, json.dumps(st))
            dst = DL._delta_stats_json(st)
            add = {"path": fn, "partitionValues": {},
                   "stats": _ms_stats(dst) if ms and ice_t.startswith(
                       "timestamp") else dst}
        lo, hi = IB._footer_bounds(
            os.path.join(d, fn), [{"id": 1, "name": "c", "type": ice_t}]
        )
        out.append((txn, add, {"lower_bounds": lo, "upper_bounds": hi}))
    return out


def _keeps(d: str, name: str, part: bool, enc: list, wn: dict):
    """Per-file keep decisions of the shared core, per log."""
    fold = pa.Table.from_pylist(
        [{"rel": r, "stats": s} for (r, s), _a, _i in enc]
    )
    meta = functools.partial(TL._txn_file_meta, d, None, {})
    kept = set(
        TL._prune(None, fold, ["rel", "stats"], meta, wn)
        .column("rel").to_pylist()
    )
    txn = [r in kept for (r, _s), _a, _i in enc]
    md = {
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "c", "type": TYPES[name][2], "nullable": True,
             "metadata": {}},
        ]}),
        "partitionColumns": ["c"] if part else [],
        "configuration": {},
    }
    adds = DL._adds_from_dicts([a for _t, a, _i in enc])
    kept = set(
        DL._prune_adds(None, md, adds, wn).column("path").to_pylist()
    )
    delta = [a["path"] in kept for _t, a, _i in enc]
    fields = {"c": (1, TYPES[name][3])}
    ice = [
        TL._keep_file(wn, IB._iceberg_file_stats(i, fields))
        for _t, _a, i in enc
    ]
    return {"txn": txn, "delta": delta, "iceberg": ice}


def _exact_misses(log: str, name: str, part: bool, ms: bool, rows, b):
    """True when ``log`` records exact metadata for this file and the
    predicate provably misses it: the keep test must then prune."""
    vals = [v for v in rows if v is not None]
    if log == "iceberg" and not vals:
        return False  # manifests written here carry no null counts
    if log == "delta" and ms and not part and name in ("ts", "tstz"):
        return False  # millisecond stats only bound the true max
    if log == "txn" and part:
        # a hive directory answers equality on str/int values only
        if name not in ("int", "str"):
            return False
        if isinstance(b, TL._In):
            eqs = list(b)
        elif b[0] is not None and b[0] == b[1]:
            eqs = [b[0]]
        else:
            return False
        return all(x not in vals for x in eqs)
    if not vals:
        return True  # all NULL: no comparison matches
    if any(_nan(v) for v in [*vals, *b]):
        return False  # footers and bounds leave NaN out
    mn, mx = min(vals), max(vals)
    if isinstance(b, TL._In):
        return all(x < mn or x > mx for x in b)
    lo, hi = b
    # a float max proves a miss only when ``hi`` rules NaN rows out
    return (
        lo is not None and mx < lo and (hi is not None or name != "float")
    ) or (hi is not None and mn > hi)


_MS_MAX = dt.datetime(2024, 1, 1, 12, 0, 0, 1500)


@settings(max_examples=400, deadline=None, derandomize=True)
@given(cases())
# delta-spark's millisecond stats record this file's max as .001
@example(("ts", False, [[_MS_MAX]], (_MS_MAX, None), True))
@example(("tstz", False, [[_MS_MAX.replace(tzinfo=UTC)]],
          _MS_MAX.replace(tzinfo=UTC), True))
# pyarrow records max=5.0 for this file; its NaN row matches c >= 10
@example(("float", False, [[1.0, math.nan, 5.0]], (10.0, None), False))
def test_shared_core_prunes_exactly_what_stats_rule_out(case):
    """(a) no file holding a matching row is ever pruned, in any log;
    (b) a file whose exact min/max (or partition value) misses the
    predicate is pruned."""
    name, part, files, bound, ms = case
    wn = TL._norm_where({"c": bound})
    with tempfile.TemporaryDirectory() as d:
        enc = _encode(d, name, part, files, ms)
        keeps = _keeps(d, name, part, enc, wn)
    for log, kept in keeps.items():
        for i, (k, rows) in enumerate(zip(kept, files)):
            match = any(_matches(v, wn["c"]) for v in rows)
            assert k or not match, (log, i, "pruned a file holding a match")
            assert not (
                k and _exact_misses(log, name, part, ms, rows, wn["c"])
            ), (log, i, "kept a file its exact metadata rules out")


def test_nan_row_group_never_proves_a_miss():
    """Two row groups as Spark's parquet-mr writer records them: the
    second holds NaN and says ``max=NaN``. The merged stats must keep
    the file for ``c >= 10`` (NaN matches) and for ``10 <= c <= 20``
    (the NaN-stamped group's other values are unknown)."""
    g1 = {"t": "num", "min": 1.0, "max": 5.0, "nulls": 0}
    g2 = {"t": "num", "min": math.nan, "max": math.nan, "nulls": 0}
    for groups in ([g1, g2], [g2, g1]):
        merged = None
        for g in groups:
            merged = TL._merge_col_stats(merged, g)
        for bound in ((10.0, None), (10.0, 20.0)):
            assert TL._keep_file({"c": bound}, {"c": merged}), (groups, bound)
