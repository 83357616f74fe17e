"""The benchmark's workloads: seeded input generators, a Python model of
the appended points that every read is checked against, and the closed
loop (one client; each call waits for the previous one) that drives the
engine.

- ``http_read``: a read-only request mix through ``http_api`` against a
  store built in set-up with ``ensure_stream``/``append_multiple`` and one
  ``downsample_streams``. Isolates the read path; writes nothing.
- ``ingest_downsample``: creates streams, appends micro-batches with the
  default ``check_timestamp=True``, then runs ``downsample_streams`` and
  reads one stream back. Loads the write path and the downsample cascade.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import sys
import time
import traceback

UTC = dt.timezone.utc
EPOCH0 = int(dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp())
CADENCE_S = 30
AGG_V = ("count", "sum", "min", "max")
# Every stream keeps raw points at "hours" and downsamples to hours6 (from
# the raw points) and days (a rollup of hours6). Each level of the cascade
# costs ~25 Spark jobs whatever the data size, ~4 s in a fresh JVM: every
# level more would make each run that much longer, and a run has to stay
# within 35-45 s.
HIGHEST = "hours"

# http_read store: 3 numeric streams on 2 sites, 2 append batches of 600
# points per stream at a 5-minute cadence (1200 points, 100 h per stream),
# so each batch writes into 3 of the store's 5 p_date partitions.
READ_STREAMS = 3
READ_SITES = ("north", "south")
READ_BATCHES = 2
READ_POINTS = 600
READ_CADENCE_S = 300
PAGE_LIMIT = 100
AGG_WIDTH = {"agg_hours6": 21600, "agg_days": 86400}
AGG_GRANULARITY = {"agg_hours6": "hours6", "agg_days": "days"}
AGGREGATE_BUCKET_S = 21600
# the page reads; their median is call_p50_ms on http_read
PAGE_KINDS = ("raw", "raw_next", *AGG_WIDTH)

# One http_read deck: the request mix in fixed proportions, shuffled by
# the seed. ``raw`` pages read the stored points; ``agg_hours6`` and
# ``agg_days`` read the downsampled buckets. Page reads (~0.5 s) are 20 of
# the 23 requests, list_streams (faster) 2 and aggregate_streams (~5x a
# page) 1. One deck is one timed pass: a second deck would make every run
# ~13 s longer.
DECK = (
    ("raw", 8),
    ("raw_next", 6),
    ("agg_hours6", 4),
    ("agg_days", 2),
    ("list", 2),
    ("aggregate", 1),
)

# ingest_downsample: set-up creates 2 streams and appends one batch of
# history, which warms the append path (the first append of a process runs
# 2-4x slower); each timed cycle creates streams, appends CYCLE_APPENDS
# micro-batches of INGEST_POINTS points per stream, downsamples and reads
# one stream back. The history is first downsampled by the timed job: a
# set-up downsample would add ~8 s to every run.
INGEST_BASE_STREAMS = 2
INGEST_SETUP_BATCHES = 1
CYCLE_APPENDS = 5
INGEST_POINTS = 300
READBACK_GRANULARITY, READBACK_WIDTH = "hours6", 21600
NOMINAL_STATES = ("idle", "run", "stop", "fault")


def iso(epoch: int) -> str:
    return dt.datetime.fromtimestamp(epoch, UTC).strftime("%Y-%m-%dT%H:%M:%SZ")


def ts_of(epoch: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch, UTC)


# ---------------------------------------------------------------------------
# model
# ---------------------------------------------------------------------------
class Model:
    """The points appended so far, per stream key, in timestamp order."""

    def __init__(self) -> None:
        self.points: dict[str, list[tuple[int, float]]] = {}

    def add(self, key: str, epoch: int, value: float) -> None:
        pts = self.points.setdefault(key, [])
        if pts and epoch <= pts[-1][0]:
            raise ValueError(f"model: {key} timestamps must increase")
        pts.append((epoch, value))

    def total(self) -> int:
        return sum(len(p) for p in self.points.values())

    def raw_page(self, key: str, after: int, inclusive: bool, limit: int) -> list:
        pts = self.points[key]
        sel = [p for p in pts if (p[0] >= after if inclusive else p[0] > after)]
        return sel[:limit]

    def buckets(self, key: str, width: int) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for epoch, v in self.points[key]:
            b = epoch // width * width
            cur = out.get(b)
            if cur is None:
                out[b] = {"count": 1, "sum": v, "min": v, "max": v, "first": epoch}
            else:
                cur["count"] += 1
                cur["sum"] += v
                cur["min"] = min(cur["min"], v)
                cur["max"] = max(cur["max"], v)
        return out


def same_agg(got_v: dict, want: dict) -> bool:
    return (
        got_v.get("count") == want["count"]
        and math.isclose(got_v.get("sum", math.nan), want["sum"], rel_tol=1e-9, abs_tol=1e-9)
        and got_v.get("min") == want["min"]
        and got_v.get("max") == want["max"]
    )


# ---------------------------------------------------------------------------
# seeded generators
# ---------------------------------------------------------------------------
def day_start(rng: random.Random) -> int:
    """A seeded start in the first hour of a day in 2024. A run's data then
    crosses day boundaries at the same points whatever the seed, so the
    p_date partition layout (and the file count that comes with it) is the
    same for every seed."""
    return EPOCH0 + rng.randrange(300) * 86400 + rng.randrange(3600)


def read_store_spec(seed: int) -> dict:
    """Streams and append batches of the http_read store."""
    rng = random.Random(seed)
    start = day_start(rng)
    streams = [
        {"key": f"s{i:02d}", "site": READ_SITES[i % len(READ_SITES)]}
        for i in range(READ_STREAMS)
    ]
    batches = []
    for b in range(READ_BATCHES):
        batch = []
        for i, s in enumerate(streams):
            t0 = start + i + b * READ_POINTS * READ_CADENCE_S
            for k in range(READ_POINTS):
                batch.append((s["key"], t0 + k * READ_CADENCE_S, round(rng.gauss(20.0, 5.0), 3)))
        batches.append(batch)
    return {"start": start, "streams": streams, "batches": batches}


def draw_deck(rng: random.Random, spec: dict, model: Model) -> list[tuple[str, dict]]:
    """One deck of http_read requests: every kind of :data:`DECK` in its
    fixed count, in a seeded order, each with seeded arguments."""
    deck = [kind for kind, n in DECK for _ in range(n)]
    rng.shuffle(deck)
    return [(kind, request_params(rng, kind, spec, model)) for kind in deck]


def request_params(rng: random.Random, kind: str, spec: dict, model: Model) -> dict:
    """The arguments of one http_read request (``raw_next`` is resolved
    against the previous raw response when it runs)."""
    streams = spec["streams"]
    if kind in ("raw", "raw_next"):
        # raw_next continues the previous raw page's cursor; these
        # arguments are its fresh page when no cursor is open
        s = rng.choice(streams)["key"]
        pts = model.points[s]
        start = pts[rng.randrange(len(pts) * 3 // 4)][0]
        return {"stream": s, "start": start}
    if kind in AGG_WIDTH:
        width = AGG_WIDTH[kind]
        s = rng.choice(streams)["key"]
        pts = model.points[s]
        start = pts[rng.randrange(len(pts) // 2)][0] // width * width
        return {"stream": s, "start": start, "width": width}
    if kind in ("list", "aggregate"):
        return {"site": rng.choice(READ_SITES)}
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------
class Client:
    """Times each call and collects failures; when traced, runs each call
    under the tracer's job group."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.records: list[dict] = []
        self.failures: list[str] = []

    def run(self, kind: str, fn, *args, **kwargs):
        rec = {"kind": kind, "s": None}
        self.records.append(rec)
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                return fn(*args, **kwargs)
            with self.tracer.call(kind):
                return fn(*args, **kwargs)
        except Exception:
            self.fail(f"{kind} raised:\n{traceback.format_exc()}")
            return None
        finally:
            rec["s"] = time.perf_counter() - t0

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)


class HttpRead:
    """Read-only request mix through ``http_api``."""

    name = "http_read"
    main_kinds = PAGE_KINDS

    def __init__(self, spark, root: str, seed: int) -> None:
        from django_datastream_spark.api import Datastream

        self.ds = Datastream(spark, root)
        self.spec = read_store_spec(seed)
        self.model = Model()
        self.ids: dict[str, str] = {}
        self.plan: list[tuple[str, dict]] = []
        self._rng = random.Random(seed ^ 0x5EED)  # draws the request plan

    def build(self, client: Client) -> None:
        for s in self.spec["streams"]:
            self.ids[s["key"]] = client.run(
                "create",
                self.ds.ensure_stream,
                {"sensor": s["key"]},
                tags={"site": s["site"], "unit": "celsius"},
                highest_granularity=HIGHEST,
            )
        for batch in self.spec["batches"]:
            dps = [
                {"stream_id": self.ids[k], "value": v, "timestamp": ts_of(e)}
                for k, e, v in batch
            ]
            for k, e, v in batch:
                self.model.add(k, e, v)
            client.run("append", self.ds.append_multiple, dps)
        client.run("downsample", self.ds.downsample_streams)
        self.appended = self.model.total()

    def run_pass(self, client: Client, seconds: float) -> dict:
        """Run whole decks until ``seconds`` have passed; returns the pass
        wall time and items served."""
        from django_datastream_spark import http_api

        t0 = time.perf_counter()
        i = items = 0
        last_raw = None
        checks = []
        while True:
            if i == len(self.plan):
                if time.perf_counter() - t0 >= seconds:
                    break
                self.plan += draw_deck(self._rng, self.spec, self.model)
            kind, p = self.plan[i]
            i += 1
            if kind in ("raw", "raw_next"):
                if kind == "raw_next" and last_raw and last_raw["cursor"]:
                    s = last_raw["stream"]
                    params = {"g": HIGHEST, "cursor": last_raw["cursor"]}
                    after, inclusive = last_raw["last"], False
                else:
                    s, params = p["stream"], {"g": HIGHEST, "start": iso(p["start"])}
                    after, inclusive = p["start"], True
                resp = client.run(
                    kind, http_api.stream_datapoints, self.ds, self.ids[s], params, limit=PAGE_LIMIT
                )
                want = self.model.raw_page(s, after, inclusive, PAGE_LIMIT)
                checks.append((kind, resp, want))
                last_raw = None
                if resp is not None and want:
                    last_raw = {
                        "stream": s,
                        "cursor": resp["meta"]["next_cursor"],
                        "last": want[-1][0],
                    }
                items += len(resp["datapoints"]) if resp else 0
            elif kind in AGG_WIDTH:
                s, width = p["stream"], p["width"]
                params = {
                    "g": AGG_GRANULARITY[kind],
                    "start": iso(p["start"]),
                    "v": ",".join(AGG_V),
                    "t": "first",
                }
                resp = client.run(
                    kind, http_api.stream_datapoints, self.ds, self.ids[s], params, limit=PAGE_LIMIT
                )
                b = self.model.buckets(s, width)
                want = [b[k] for k in sorted(b) if k >= p["start"]][:PAGE_LIMIT]
                checks.append((kind, resp, want))
                items += len(resp["datapoints"]) if resp else 0
            elif kind == "list":
                resp = client.run(kind, http_api.list_streams, self.ds, {"site": p["site"]})
                want = sorted(
                    self.ids[s["key"]] for s in self.spec["streams"] if s["site"] == p["site"]
                )
                checks.append((kind, resp, want))
                items += len(resp["objects"]) if resp else 0
            else:  # aggregate
                keys = [s["key"] for s in self.spec["streams"] if s["site"] == p["site"]]
                w = AGGREGATE_BUCKET_S
                lo = min(self.model.points[k][0][0] for k in keys) // w * w
                hi = (max(self.model.points[k][-1][0] for k in keys) // w + 1) * w
                params = {"bucket": str(w), "start": iso(lo), "end": iso(hi)}
                resp = client.run(
                    kind, http_api.aggregate_streams, self.ds, {"site": p["site"]}, params
                )
                want = sorted(
                    (self.ids[k], iso(b), agg)
                    for k in keys
                    for b, agg in self.model.buckets(k, w).items()
                )
                checks.append((kind, resp, want))
                items += len(resp["objects"]) if resp else 0
        wall = time.perf_counter() - t0
        for kind, resp, want in checks:
            if resp is not None:
                err = check_response(kind, resp, want)
                if err:
                    client.fail(f"{kind}: {err}")
        return {"wall_s": wall, "items": items, "requests": i}


def check_response(kind: str, resp: dict, want) -> str | None:
    """Compare one http_read response with the model; None when equal."""
    if kind in ("raw", "raw_next"):
        got = [(d["t"], d["v"]) for d in resp["datapoints"]]
        exp = [(iso(e), v) for e, v in want]
        return None if got == exp else f"raw page differs ({len(got)} vs {len(exp)} points)"
    if kind in AGG_WIDTH:
        got = resp["datapoints"]
        if len(got) != len(want):
            return f"{len(got)} buckets, expected {len(want)}"
        for d, w in zip(got, want):
            if d["t"].get("first") != iso(w["first"]) or not same_agg(d["v"], w):
                return f"bucket {d['t']} {d['v']} != {w}"
        return None
    if kind == "list":
        got = sorted(o["stream_id"] for o in resp["objects"])
        ok = got == want and resp["meta"]["total_count"] == len(want)
        return None if ok else f"streams {got} != {want}"
    got = resp["objects"]
    if len(got) != len(want):
        return f"{len(got)} aggregate rows, expected {len(want)}"
    for o, (sid, bucket, agg) in zip(got, want):
        if o["stream_id"] != sid or o["bucket"] != bucket or not same_agg(o["v"], agg):
            return f"aggregate row {o} != {(sid, bucket, agg)}"
    return None


class IngestDownsample:
    """Create streams, append micro-batches, downsample, read back."""

    name = "ingest_downsample"
    main_kinds = ("append",)

    def __init__(self, spark, root: str, seed: int) -> None:
        from django_datastream_spark.api import Datastream

        self.ds = Datastream(spark, root)
        self.rng = random.Random(seed)
        self.clock = day_start(self.rng)
        self.model = Model()
        self.ids: dict[str, str] = {}
        self.numeric: list[str] = []
        self.cycles = 0
        self.appended = 0

    def _create(self, client: Client, key: str, **kw) -> None:
        sid = client.run(
            "create",
            self.ds.ensure_stream,
            {"fleet": "f1", "unit": key},
            highest_granularity=HIGHEST,
            **kw,
        )
        self.ids[key] = sid

    def _append(self, client: Client, keys: list[str], nominal: str | None) -> int:
        dps = []
        t0 = self.clock
        for j, key in enumerate(keys):
            for k in range(INGEST_POINTS):
                e, v = t0 + j + k * CADENCE_S, round(self.rng.gauss(50.0, 12.0), 3)
                self.model.add(key, e, v)
                dps.append({"stream_id": self.ids[key], "value": v, "timestamp": ts_of(e)})
        if nominal is not None:
            for k in range(INGEST_POINTS):
                dps.append(
                    {
                        "stream_id": self.ids[nominal],
                        "value": self.rng.choice(NOMINAL_STATES),
                        "timestamp": ts_of(t0 + k * CADENCE_S),
                    }
                )
        self.clock += INGEST_POINTS * CADENCE_S
        client.run("append", self.ds.append_multiple, dps, check_timestamp=True)
        self.appended += len(dps)
        return len(dps)

    def build(self, client: Client) -> None:
        for i in range(INGEST_BASE_STREAMS):
            self._create(client, f"b{i}")
            self.numeric.append(f"b{i}")
        for _ in range(INGEST_SETUP_BATCHES):
            self._append(client, self.numeric, None)

    def _cycle(self, client: Client) -> tuple[int, list]:
        c = self.cycles
        self.cycles += 1
        key = f"n{c}"
        self._create(client, key)
        self.numeric.append(key)
        if c == 0:
            self._create(client, "state", value_type="nominal")
            self._create(
                client,
                "sum01",
                derive_from=[self.ids["b0"], self.ids["b1"]],
                derive_op="sum",
            )
        items = sum(
            self._append(client, self.numeric, "state") for _ in range(CYCLE_APPENDS)
        )
        client.run("downsample", self.ds.downsample_streams)
        key = self.numeric[c % len(self.numeric)]
        got = client.run("readback", _read_all, self.ds, self.ids[key])
        return items, [(key, got)]

    def run_pass(self, client: Client, seconds: float) -> dict:
        """Run whole cycles until ``seconds`` have passed."""
        t0 = time.perf_counter()
        items = 0
        checks = []
        while True:
            n, c = self._cycle(client)
            items += n
            checks += c
            if time.perf_counter() - t0 >= seconds:
                break
        wall = time.perf_counter() - t0
        for key, got in checks:
            if got is not None:
                err = check_readback(got, self.model.buckets(key, READBACK_WIDTH))
                if err:
                    client.fail(f"readback {key}: {err}")
        return {"wall_s": wall, "items": items, "requests": len(checks)}


def _read_all(ds, stream_id: str) -> list[dict]:
    return list(
        ds.get_data(
            stream_id,
            READBACK_GRANULARITY,
            value_downsamplers=list(AGG_V),
            time_downsamplers=["first"],
        )
    )


def check_readback(got: list[dict], want: dict[int, dict]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} {READBACK_GRANULARITY} buckets, expected {len(want)}"
    for d, b in zip(got, sorted(want)):
        w = want[b]
        first = d["t"].get("first") if isinstance(d["t"], dict) else None
        if (
            int(d["bucket"].replace(tzinfo=UTC).timestamp()) != b
            or first is None
            or int(first.replace(tzinfo=UTC).timestamp()) != w["first"]
            or not same_agg(d["v"], w)
        ):
            return f"bucket {d} != {w}"
    return None


WORKLOADS = {w.name: w for w in (HttpRead, IngestDownsample)}
