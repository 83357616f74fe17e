"""SparkSession factory.

Defaults are chosen for correctness-parity with the DuckDB oracle
(UTC everywhere — the reference stores UTC epoch seconds, SURVEY.md §1.2)
and for scale (AQE on, Arrow on, partition counts sized from cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _nozip_spark_home(home: str) -> str | None:
    """Build (idempotently) a SPARK_HOME stub whose python/lib has no zips.

    Every Python worker Spark spawns — pyspark.daemon, the planner workers
    behind Python DataSources, and the per-query streaming source/sink
    runners (launched as FRESH interpreters via createSimpleWorker) — gets
    ``$SPARK_HOME/python/lib/pyspark.zip`` prepended to PYTHONPATH by
    PythonWorkerFactory. zipimport cannot cache bytecode, so each fresh
    interpreter re-parses ~0.8 s of pyspark source per spawn (guide §4
    heavyweight init at the Python boundary). When the worker interpreter
    can already import pyspark from its own site-packages (cached .pyc),
    pointing SPARK_HOME at a stub that mirrors the distro except for the
    python/lib zips lets workers fall through to that copy: measured ~0.3 s
    per interpreter spawn, ~2 s per streaming-replay query. JVM launch is
    unaffected (bin/jars/conf symlink to the real distro).
    """
    import hashlib
    import zipfile

    pyspark_zip = os.path.join(home, "python", "lib", "pyspark.zip")
    if not os.path.isdir(home) or not os.path.exists(pyspark_zip):
        return None  # already zip-less (pip layout): nothing to gain
    try:
        import pyspark

        if os.path.abspath(pyspark.__file__).startswith(os.path.abspath(home)):
            return None  # workers have no other pyspark to fall back to
        with zipfile.ZipFile(pyspark_zip) as zf:
            version_src = zf.read("pyspark/version.py").decode("utf-8")
        quoted = (f"'{pyspark.__version__}'", f'"{pyspark.__version__}"')
        if not any(q in version_src for q in quoted):
            return None  # distro/site-packages version drift: keep stock path
    except Exception:
        return None

    import tempfile

    key = hashlib.md5(os.path.abspath(home).encode()).hexdigest()[:8]
    stub = os.path.join(tempfile.gettempdir(), f"spark_home_nozip_{key}")
    try:
        os.makedirs(os.path.join(stub, "python", "lib"), exist_ok=True)
        for entry in os.listdir(home):
            if entry == "python":
                continue
            link = os.path.join(stub, entry)
            target = os.path.join(home, entry)
            if os.path.islink(link):
                if os.readlink(link) == target:
                    continue
                os.unlink(link)
            try:
                os.symlink(target, link)
            except FileExistsError:
                pass  # concurrent builder; targets are identical
        # anything that resolves $SPARK_HOME/python/pyspark directly
        py_link = os.path.join(stub, "python", "pyspark")
        if not os.path.islink(py_link):
            try:
                os.symlink(os.path.join(home, "python", "pyspark"), py_link)
            except FileExistsError:
                pass
        # stale zips from an older layout would defeat the point
        for leftover in os.listdir(os.path.join(stub, "python", "lib")):
            if leftover.endswith(".zip"):
                os.unlink(os.path.join(stub, "python", "lib", leftover))
    except OSError:
        return None
    return stub


def _point_workers_at_cached_pyspark() -> None:
    if os.environ.get("SPARK_GRAFT_KEEP_SPARK_HOME"):
        return
    home = os.environ.get("SPARK_HOME")
    if not home:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        return  # JVM already launched with the env it launched with
    stub = _nozip_spark_home(home)
    if stub:
        os.environ["SPARK_HOME"] = stub


def get_spark(
    app_name: str = "django-datastream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster only the SQL confs matter; master/local settings are
    for the local[] test harness.
    """
    cpus = default_parallelism()
    _point_workers_at_cached_pyspark()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor decides how far byte-light stages collapse.
        # The 1 MB default is a byte heuristic that cannot see COMPUTE
        # density: a post-shuffle stage of regex chains / codec decodes /
        # HOF folds over a few hundred KB coalesces to ONE task and
        # serializes on one core (measured 2-5x on the regex/fold-heavy
        # declared queries, OPTIMIZATION_r11.md). 64 KB keeps such stages
        # parallel; at cluster scale real partitions sit far above either
        # floor, so the setting is inert there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Whole-stage-codegen class cache (static conf). The stock 100
        # entries thrash on any workload cycling more than ~100 distinct
        # plan shapes — this engine declares 241 — so every revisit
        # re-compiles its generated classes (measured 29% of a broad
        # interleaved query sweep). Entries are weak-ref keyed compiled
        # classes; the cap only bounds them, actual memory is set by the
        # number of distinct codegen units the workload really has.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata ships TIMESTAMP(NANOS) parquet which the Spark
        # vectorized reader rejects; read as long + convert (sources.testdata)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT64 micros, not the deprecated INT96: INT96 columns carry NO
        # footer min/max statistics, which would blind the txn log's
        # data skipping (txnlog.collect_file_stats) and every engine's
        # row-group pruning on timestamp predicates
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    return spark


def harden_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created session.

    The verification driver owns its own SparkSession; timezone and the
    parquet-NANOS legacy flag are runtime SQL confs, so we can still pin
    them for oracle parity. Also ships this package to executor Python
    workers (addPyFile) so UDF closures resolve regardless of the
    session's original PYTHONPATH.

    Idempotent per session object: load_table calls this on every
    declared-query build, and the conf.set py4j round trips are pure
    overhead after the first call — nothing in the engine unsets these
    four confs, and ~1000 builder calls per bench run would re-pin them.
    """
    if getattr(spark, "_dds_hardened", False):
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for conf, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
    ):
        try:
            spark.conf.set(conf, val)
        except Exception:
            pass  # non-runtime conf on this build; loader has a pyarrow fallback
    _ship_package(spark)
    spark._dds_hardened = True
    return spark


def interpreted_projection_session(spark: SparkSession) -> SparkSession:
    """A session clone whose non-whole-stage projection factories run
    INTERPRETED (``spark.sql.codegen.factoryMode=NO_CODEGEN``), for the
    rare plan whose generated projections are pathologically wide.

    Measured (r11): ``approx_count_distinct(rsd=0.01)`` carries a
    16384-register HLL++ state = 1639 LONG aggregation-buffer slots, and
    the codegen'd buffer projections cost ~0.6 s PER EXECUTION at any
    input size (1k rows = 100k rows; scales with register count, not
    data; whole-stage codegen is already off for imperative aggregates).
    Interpreted factories drop that fixed cost 3–4x with bit-identical
    results — the per-row HLL update is the same JVM method either way;
    only the per-GROUP buffer-init/result projections change mode, so
    this holds at any scale.  Scoped: the clone shares the
    SparkContext and inherits every other conf; the caller's session is
    untouched.  Cached per parent session object (builders run per
    bench round)."""
    cached = getattr(spark, "_dds_interp_session", None)
    if cached is not None:
        return cached
    clone = spark.newSession()
    clone.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    harden_session(clone)
    spark._dds_interp_session = clone
    return clone


def _ship_package(spark: SparkSession) -> None:
    if getattr(spark, "_dds_pkg_shipped", False):
        return
    try:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(
            tempfile.gettempdir(), "django_datastream_spark_pkg.zip"
        )
        with zipfile.ZipFile(zip_path, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                for fn in filenames:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)
        spark._dds_pkg_shipped = True
    except Exception:
        pass  # closures are written self-contained; this is extra insurance


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


class streaming_state:
    """Scope the two streaming STATE-STORE knobs around a stream start
    (``with streaming_state(spark, provider="rocksdb",
    state_partitions=8): q = df.writeStream...start()``):

    - ``state_partitions`` → ``spark.sql.shuffle.partitions``, which a
      streaming query reads ONCE at first start to fix its state-store
      count forever (it is not AQE-coalesced). Each store pays a
      per-micro-batch snapshot/commit, so at small replay scale fewer
      stores beat parallelism (measured: q155 13.2 s → 2.0 s going
      200 → 8 in a cold session); a 100 TB deployment sizes it UP with
      keyspace volume instead.
    - ``provider="rocksdb"`` → the RocksDB state store
      (:data:`ROCKSDB_PROVIDER`, bundled with Spark). The HDFS-backed
      default keeps every store's state in executor heap and snapshots
      whole maps per batch — fine for bounded replays, but at 100×
      state (large-keyspace dedup/joins) RocksDB keeps state off-heap
      with incremental changelog uploads and is the standard answer.
      At gate scale it measures slightly SLOWER (q155 2.0 s → 2.9 s,
      q160 3.6 s → 4.7 s — JNI + compaction overhead with ~1e5 rows of
      state), which is why it is an option, not the default.

    Both confs restore on exit; batch queries in a shared session read
    shuffle.partitions at plan time, so a scoped set-restore around a
    blocking stream never leaks into them. NOTE the scope must cover
    the STREAM START (the conf snapshot moment) — wrapping only
    awaitTermination sets nothing.
    """

    def __init__(self, spark, provider=None, state_partitions=None):
        self.spark = spark
        self.provider = provider
        self.state_partitions = state_partitions
        self._prev: dict[str, str | None] = {}

    def __enter__(self):
        conf = self.spark.conf
        if self.state_partitions is not None:
            self._prev["spark.sql.shuffle.partitions"] = conf.get(
                "spark.sql.shuffle.partitions"
            )
            conf.set(
                "spark.sql.shuffle.partitions", str(self.state_partitions)
            )
        if self.provider is not None:
            key = "spark.sql.streaming.stateStore.providerClass"
            try:
                self._prev[key] = conf.get(key)
            except Exception:
                self._prev[key] = None
            conf.set(
                key,
                ROCKSDB_PROVIDER
                if self.provider == "rocksdb"
                else self.provider,
            )
        return self

    def __exit__(self, *exc):
        for key, val in self._prev.items():
            if val is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, val)
        return False
