"""SparkSession factory with scale-minded defaults.

Local testing runs ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster: AQE (runtime coalesce,
skew-join splitting, dynamic broadcast), shuffle partition sizing, and
Arrow for any pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One BLAS thread per Python worker (r14). Spark already fills every
# core with one task each, so an N-thread BLAS inside each of N
# workers oversubscribes N× — and OpenBLAS's post-call spin-wait turns
# many small gemms into a stampede: 32 concurrent workers running the
# LSH verify kernel's 1024×64 @ 64×1024 screens measured 21.3 s/worker
# with the default pool vs 0.60 s with a single thread (35×). Set
# before any numpy/BLAS initialization: the JVM (and through it the
# Python worker daemon) inherits this process's environment, so the
# cap reaches every executor-side kernel; setdefault keeps an explicit
# operator override working. The same reasoning (and setting) holds on
# a real cluster — spark.executorEnv is set in get_spark for the
# non-local case where executors are separate processes.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def get_spark(
    app_name: str = "rehiver-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join mitigation,
        # sort-merge→broadcast switch — the knobs that keep plans sane
        # when the 0.1-SF test becomes a 100 TB scan.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # partition discovery/listing parallelism (objects catalog scans)
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # JDK-17 default ReservedCodeCacheSize is 240 MB; a long query
        # suite generates enough whole-stage-codegen classes to churn
        # it, after which even WARM queries re-pay Janino+JIT (measured
        # sf0.1: x17 7.5 s in-suite vs 2.7 s dedicated). 512 MB holds
        # the full 115-query working set
        .config(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m"
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # bucketed scans report their sortBy ordering (r14). Every
        # bucketed table this engine writes (SnapshotStore versions,
        # write_bucketed indexes) is repartitioned to exactly ONE
        # sorted file per bucket, and Spark only claims the ordering
        # in that single-file case — so the flag is semantics-safe
        # globally and lets the downstream sort-merge join / window
        # skip its local Sort of the pre-sorted state side (the r13
        # bucketed-store design intent; the Exchange was elided but
        # the Sort survived because this flag defaults false).
        # Measured sf10: r10 warm detect 14.7 -> 12.6 s min-of-3.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # non-local deployments: executors are separate processes that
        # do NOT inherit this driver's environment — carry the
        # one-BLAS-thread-per-worker cap (see module header) with the
        # app so cluster kernels get the same non-oversubscribed BLAS
        .config(
            "spark.executorEnv.OPENBLAS_NUM_THREADS",
            os.environ.get("OPENBLAS_NUM_THREADS", "1"),
        )
        .config(
            "spark.executorEnv.OMP_NUM_THREADS",
            os.environ.get("OMP_NUM_THREADS", "1"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition a DataFrame whose scan under-parallelizes the
    cluster (a small parquet file reads as 1-2 partitions; any per-row
    heavy compute downstream then runs on 1-2 cores of 32). No-op when
    the input already has enough partitions — so on a real multi-file
    100 TB scan this never adds a shuffle."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # fast path: leaf file count bounds scan parallelism without the
    # .rdd conversion (which forces full physical planning, ~0.4s per
    # call); only scan-rooted plans report files, others fall through
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if not files and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# Operator-persist registry
# ---------------------------------------------------------------------------
# Several pair operators (jaccard/minhash/simhash candidates, winnow
# fingerprints, LSH sketches) persist() an intermediate the plan reads
# 2-4 times. The returned DataFrames are lazy, so the handle cannot be
# unpersisted in-function — historically release required a global
# spark.catalog.clearCache() (what the bench does), which a long-lived
# service sharing the session with OTHER cached data cannot afford.
# track_persist() registers every such handle; release_persisted()
# unpersists exactly those, leaving unrelated caches alone. The list
# is lock-guarded (operators may run from concurrent threads sharing
# one session) and capped: past the high-water mark the OLDEST
# handles are unpersisted eagerly — unpersisting a still-referenced
# DataFrame is always safe in Spark (it recomputes), so the cap
# bounds plan/handle retention for session-lifetime services instead
# of leaking until a manual release (r5 advisor finding).
import threading as _threading

_PERSISTED: list = []
_PERSISTED_LOCK = _threading.Lock()
_PERSISTED_HIGH_WATER = 256


def _safe_unpersist(df) -> bool:
    """True if released; stopped-session is benign, anything else is
    logged (the handle's cached blocks would otherwise leak with no
    trace) and counted as not-released."""
    import logging

    try:
        df.unpersist()
        return True
    except Exception as e:  # noqa: BLE001 — classified below
        msg = str(e)
        if "SparkContext" in msg and ("stopped" in msg or "shut down" in msg):
            return False  # session gone: nothing to free
        logging.getLogger(__name__).warning(
            "unpersist failed (cached blocks may leak until clearCache): %s",
            e,
        )
        return False


def track_persist(df, storage_level=None):
    """persist() + register the handle for :func:`release_persisted`."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    overflow = []
    with _PERSISTED_LOCK:
        _PERSISTED.append(df)
        if len(_PERSISTED) > _PERSISTED_HIGH_WATER:
            cut = len(_PERSISTED) - _PERSISTED_HIGH_WATER
            overflow = _PERSISTED[:cut]
            del _PERSISTED[:cut]
    for old in overflow:
        _safe_unpersist(old)
    return df


def release_persisted() -> int:
    """Unpersist every operator-persisted intermediate registered by
    :func:`track_persist`; returns how many were released. Blocking=False
    semantics (Spark default): storage frees asynchronously."""
    n = 0
    while True:
        with _PERSISTED_LOCK:
            if not _PERSISTED:
                return n
            df = _PERSISTED.pop()
        if _safe_unpersist(df):
            n += 1


_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``rehiver_spark`` importable on executor Python workers.

    Closures passed to ``mapInPandas`` may reference module-level
    helpers; cloudpickle serializes those by *reference*, so workers
    must be able to import the package. When the driver session was
    launched without the repo on PYTHONPATH (e.g. an external harness
    calling ``entry(spark)``), that import fails. Shipping a zip of the
    package via ``sc.addPyFile`` fixes it for any session, idempotently.
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(tempfile.gettempdir(), f"rehiver_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, arcname=str(pathlib.Path("rehiver_spark") / p.relative_to(pkg_dir)))
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def _events_ts_raw_unit(path: str) -> str | None:
    """Inspect the parquet footer: does ``ts`` need the read-as-BIGINT
    workaround, and if so in what unit are the raw values?

    Returns ``None`` for a native timestamp[us/ms] column (Spark reads
    it directly; treating µs as ns would divide every timestamp by
    1000 — the round-2 bug). Returns ``'ns'`` for TIMESTAMP(NANOS),
    which Spark cannot represent. For a RAW int64 column the footer
    carries no unit, so we infer it from value magnitude instead of
    assuming nanos (an int64 µs column div-1000'd would shrink 1000×,
    the same failure class the sniff exists to prevent): for any epoch
    between 1973 and 5100, nanos ≥ 1e17 > µs ∈ [1e14, 1e17) > ms ∈
    [1e11, 1e14) > s — the bands cannot overlap, so one non-null
    sample decides. Footer + one 1024-row batch is a driver-side
    metadata read — cheap even when the dataset is 100 TB, because
    schema is uniform per table.
    """
    try:
        import pathlib

        import pyarrow.parquet as pq

        p = pathlib.Path(path)
        if p.is_dir():
            p = next(p.rglob("*.parquet"))
        t = pq.read_schema(p).field("ts").type
        if getattr(t, "unit", None) == "ns":
            return "ns"  # metadata is authoritative for typed columns
        if str(t) != "int64":
            return None  # native timestamp[us/ms] — read directly
        pf = pq.ParquetFile(p)
        # scan batches until a non-null value decides the unit — an
        # all-null FIRST batch must not default a microsecond column
        # into the div-1000 path (the round-2 bug class)
        vals: list[int] = []
        for batch in pf.iter_batches(batch_size=1024, columns=["ts"]):
            vals = [abs(v) for v in batch.column(0).to_pylist() if v is not None]
            if vals:
                break
        if not vals:
            return "ns"  # ENTIRE file null: unit is unobservable; any guess is safe
        mag = max(vals)
        if mag >= 10**17:
            return "ns"
        if mag >= 10**14:
            return "us"
        return "ms" if mag >= 10**11 else "s"
    except Exception:
        return None


def read_events(spark: SparkSession, sf_dir: str):
    """Read the events table, tolerating a TIMESTAMP(NANOS) ``ts``.

    The driver testdata stores ``ts`` as timestamp[us], which Spark
    reads natively — that is the default path. Only when the footer
    says the column is genuinely nanos, or is a raw int64 (unit then
    inferred from value magnitude, see :func:`_events_ts_raw_unit`),
    do we read it as BIGINT and convert to microseconds; div-1000'ing
    a µs column would shrink every timestamp 1000× (the round-2 bug:
    all of 2024 collapsed into 43 minutes of 1970).
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/events.parquet"
    unit = _events_ts_raw_unit(path)
    if unit is None:
        # parquet timestamp[us] with isAdjustedToUTC=false reads as
        # TIMESTAMP_NTZ, which watermarks/window() reject; the session
        # timezone is pinned UTC (session.py get_spark), so casting to
        # TIMESTAMP (ltz) is value-identical and keeps every downstream
        # streaming operator happy
        return spark.read.parquet(path).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    schema = (
        "event_id bigint, ts bigint, user_id bigint, "
        "event_type string, value double, props string"
    )
    df = spark.read.schema(schema).parquet(path)
    to_micros = {
        "ns": F.expr("ts div 1000"),
        "us": F.col("ts"),
        "ms": F.col("ts") * 1000,
        "s": F.col("ts") * 1000000,
    }[unit]
    return df.withColumn("ts", F.timestamp_micros(to_micros))


_TABLE_CACHE: dict[tuple[str, str, str], "DataFrame"] = {}


def _session_key(spark: SparkSession) -> str:
    """Collision-free session identity for memoization. ``id(spark)``
    can be REUSED by CPython after a stopped session is collected,
    which would serve cached frames bound to a dead SparkContext."""
    try:
        return spark.sparkContext.applicationId
    except Exception:
        return f"id-{id(spark)}"  # stopped context: unique enough to miss


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver testdata parquet tables as temp views and
    return them as a dict of DataFrames.

    DataFrames are memoized per (session, dir, table): schema
    inference is a JVM round-trip per `spark.read.parquet`, and the
    declared-query harness loads tables once per query — without the
    cache a 60-query bench pays ~a minute of pure footer reads.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for n in names:
        key = (_session_key(spark), sf_dir, n)
        df = _TABLE_CACHE.get(key)
        if df is None:
            df = read_events(spark, sf_dir) if n == "events" else spark.read.parquet(f"{sf_dir}/{n}.parquet")
            _TABLE_CACHE[key] = df
        # re-register every call: the same view name may have pointed at
        # a different sf_dir (tests mix scale factors in one session)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
