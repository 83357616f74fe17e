"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload http_read --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is a ``{"stamp": ...}`` object with the run's conditions
and the per-request-type latencies. Inputs come from ``--seed``; the
engine runs with its defaults on ``local[<cores available>]``. Scratch
state lives in ``.perfbench_work/`` and result/span files in
``perfbench_out/``, both under the directory holding ``perfbench/``,
whatever the working directory.

The repository root is put on the Python workers' ``PYTHONPATH`` because
a Python streaming source runner cannot import the engine package from
anywhere else when the process starts outside the repository root. Remove
that line once the engine ships itself to those runners.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

from stats import median, self_time, summary
from workloads import PAGE_KINDS, WORKLOADS, Client

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, "perfbench_out")
PACKAGE = "django_datastream_spark"

# name -> unit; BENCHMARK.json lists the same names and units
END_TO_END = {
    "setup_s": "s",
    "call_p50_ms": "ms",
    "items_per_s": "1/s",
    "job_s": "s",
    "store_bytes_per_point": "B",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "http_api.self_ms": "ms",
    "api.get_data.ms": "ms",
    "api.get_data.jobs": "count",
    "api.iter.ms": "ms",
    "api.iter.rows": "count",
    "api.find_streams.ms": "ms",
    "api.find_streams.jobs": "count",
    "api.aggregate.ms": "ms",
    "api.aggregate.jobs": "count",
    "api.ensure_stream.ms": "ms",
    "api.ensure_stream.jobs": "count",
    "api.append_multiple.self_ms": "ms",
    "api.append_multiple.jobs": "count",
    "api.downsample_streams.self_s": "s",
    "api.downsample_streams.jobs": "count",
    "api.downsample_streams.stages": "count",
    "storage.read_streams.ms": "ms",
    "storage.read_points_raw.ms": "ms",
    "storage.read_points_agg.ms": "ms",
    "storage.files_scanned_per_read": "count",
    "storage.append_points_raw.ms": "ms",
    "storage.upsert_streams_df.ms": "ms",
    "storage.upsert_points_agg.ms": "ms",
    "storage.files_written": "count",
    "storage.files_live": "count",
    "storage.streams_log_files": "count",
    "txnlog.commit.ms": "ms",
    "txnlog.commits": "count",
    "operators.downsample_raw.ms": "ms",
    "operators.rollup_agg.ms": "ms",
    "operators.build_derive_plan.ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.overhead_ratio": "ratio",
}
# the calls that read (files_scanned_per_read) and the background job
READ_KINDS = (*PAGE_KINDS, "list", "aggregate", "readback")
JOB_KIND = "downsample"
SETUP_OPENS = 3  # one cold session start, then restarts in the same JVM


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> int:
    """Point every scratch directory into the checkout and fix the core
    count; must run before pyspark starts the JVM."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None
    return cpus


def descendants() -> list[int]:
    """Live descendant processes of this one (the JVM, Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if fields[0] != "Z":
                    parent[int(d)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return sorted(tree)


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and any Python workers), summed, sampled every 0.2 s."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for p in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.peak = max(self.peak, self._tree_rss())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())
        return False


def store_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def parquet_count(path: str) -> int:
    return sum(1 for p in store_files(path) if p.endswith(".parquet"))


def median0(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


def end_to_end_metrics(m: dict) -> dict:
    """Every end-to-end metric from a run's raw measurements."""
    values = {
        "setup_s": median0(m["setup_s"]),
        "call_p50_ms": median0(m["call_s"]) * 1000,
        "items_per_s": m["items"] / m["wall_s"],
        "job_s": median0(m["job_s"]),
        "store_bytes_per_point": m["store_bytes"] / m["points"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def layer_metrics(spans: list[dict], calls: list[dict], extra: dict) -> dict:
    """Every per-layer metric from the traced pass's spans and counts."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name, scale=1000.0):
        return median0((s["t1"] - s["t0"]) * scale for s in by_name.get(name, []))

    def self_of(names, scale=1000.0):
        return median0(
            self_time(s, kids.get(s["id"], [])) * scale
            for n in names
            for s in by_name.get(n, [])
        )

    def count(name, field):
        return median0(s.get(field, 0) for s in by_name.get(name, []))

    http = [n for n in by_name if n.startswith("http_api.")]
    v = {
        "session.get_spark_s": median0(extra["get_spark_s"]),
        "http_api.self_ms": self_of(http),
        "api.iter.ms": dur("api.iter"),
        "api.iter.rows": count("api.iter", "rows"),
        "api.append_multiple.self_ms": self_of(["api.append_multiple"]),
        "api.append_multiple.jobs": count("api.append_multiple", "jobs"),
        "api.downsample_streams.self_s": self_of(["api.downsample_streams"], 1.0),
        "api.downsample_streams.jobs": count("api.downsample_streams", "jobs"),
        "api.downsample_streams.stages": count("api.downsample_streams", "stages"),
        "storage.files_scanned_per_read": median0(
            c["files_read"] for c in calls if c["kind"] in READ_KINDS
        ),
        "storage.files_written": extra["files_written"],
        "storage.files_live": extra["files_live"],
        "storage.streams_log_files": extra["streams_log_files"],
        "txnlog.commits": len(by_name.get("txnlog.commit", [])),
        "trace.overhead_ratio": extra["overhead_ratio"],
    }
    for n in ("get_data", "find_streams", "aggregate", "ensure_stream"):
        v[f"api.{n}.ms"] = dur(f"api.{n}")
        v[f"api.{n}.jobs"] = count(f"api.{n}", "jobs")
    for n in (
        "storage.read_streams",
        "storage.read_points_raw",
        "storage.read_points_agg",
        "storage.append_points_raw",
        "storage.upsert_streams_df",
        "storage.upsert_points_agg",
        "txnlog.commit",
        "operators.downsample_raw",
        "operators.rollup_agg",
        "operators.build_derive_plan",
    ):
        v[f"{n}.ms"] = dur(n)
    for k, x in extra["spark"].items():
        v[f"spark.{k}"] = x  # spark.stages_missing goes to the stamp only
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}


def op_summaries(records: list[dict]) -> dict:
    kinds: dict[str, list[float]] = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append(r["s"] * 1000)
        if r["kind"] in READ_KINDS and r["kind"] != "readback":
            kinds.setdefault("read", []).append(r["s"] * 1000)
    return {k: summary(xs) for k, xs in sorted(kinds.items())}


def run(args) -> tuple[dict, dict]:
    cpus = prepare_env()
    import pyspark

    from tracing import Tracer
    from django_datastream_spark import session
    from django_datastream_spark.api import Datastream
    from django_datastream_spark.storage import Tables

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus_honored": cpus,
        "nproc": os.cpu_count(),
        "loadavg_1m_start": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "sf": None,  # both workloads generate their own inputs from the seed
    }
    store = os.path.join(WORK, "store")
    spark = None
    with RssSampler() as rss:
        try:
            setup_s, get_spark_s = [], []
            for _ in range(SETUP_OPENS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = session.get_spark("perfbench")
                get_spark_s.append(time.perf_counter() - t0)
                spark.sparkContext.setLogLevel("ERROR")
                Datastream(spark, store).find_streams()
                setup_s.append(time.perf_counter() - t0)
            wl = WORKLOADS[args.workload](spark, store, args.seed)
            build = Client()
            t0 = time.perf_counter()
            wl.build(build)
            stamp["store_build_s"] = time.perf_counter() - t0
            tracer = Tracer(spark) if args.trace else None
            timed = Client(tracer)
            if tracer is None:
                timed_pass = wl.run_pass(timed, args.seconds)
            else:
                extra = {"get_spark_s": get_spark_s}
                before = store_files(store)
                tracer.install()
                try:
                    timed_pass = wl.run_pass(timed, args.seconds)
                finally:
                    tracer.uninstall()
                after = store_files(store)
                extra["spark"] = tracer.collect()
                tables = Tables(spark, store)
                extra["files_written"] = sum(
                    1 for p in after if p.endswith(".parquet") and p not in before
                )
                extra["files_live"] = sum(
                    parquet_count(p)
                    for p in (
                        tables.streams_path,
                        tables.points_raw_path,
                        tables.points_agg_path,
                        tables.points_derived_path,
                    )
                )
                extra["streams_log_files"] = parquet_count(tables.streams_path)
                # the tracer's in-line time over the pass without it
                extra["overhead_ratio"] = tracer.own_s / (timed_pass["wall_s"] - tracer.own_s)
            store_bytes = sum(store_files(store).values())
        finally:
            if spark is not None:
                stop_spark(spark)
    records = build.records + timed.records
    failed = len(build.failures) + len(timed.failures)
    job_src = timed.records if args.workload == "ingest_downsample" else records
    measured = {
        "setup_s": setup_s,
        "call_s": [r["s"] for r in timed.records if r["kind"] in wl.main_kinds],
        "items": timed_pass["items"],
        "wall_s": timed_pass["wall_s"],
        "job_s": [r["s"] for r in job_src if r["kind"] == JOB_KIND],
        "store_bytes": store_bytes,
        "points": wl.appended,
    }
    stamp.update(
        {
            "loadavg_1m_end": os.getloadavg()[0],
            "peak_rss_mb": rss.peak / 2**20,
            "setup_samples_s": setup_s,
            "timed_pass": timed_pass,
            "ops_ms": op_summaries(timed.records),
            "build_ops_ms": op_summaries(build.records),
            "end_to_end": end_to_end_metrics(measured),
        }
    )
    if args.trace:
        metrics = layer_metrics(tracer.spans, tracer.calls, extra)
        spans_path = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(
                {"workload": args.workload, "seed": args.seed, "spans": tracer.spans, "calls": tracer.calls},
                f,
            )
        stamp["spans_file"] = os.path.relpath(spans_path, ROOT)
        stamp["spark_stages_missing"] = extra["spark"]["stages_missing"]
    else:
        metrics = stamp["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }
    shutil.rmtree(WORK, ignore_errors=True)
    return stamp, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    stamp, result = run(args)
    name = f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump({"stamp": stamp, "result": result}, f, indent=1)
    sys.stdout.write("\n" + json.dumps({"stamp": stamp}) + "\n")
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
