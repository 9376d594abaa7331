"""10x scaling spot-check for the catalog/changes operators (round 4).

Replicates the sf0.1 lineitem-derived snapshots 10x (unique keys per
replica) and times detect_changes / dedup_catalog / snapshot commit at
both scales. Ad-hoc evidence generator for BASELINE.md — not shipped.
"""
import os, sys, time, tempfile
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from rehiver_spark.session import get_spark
from rehiver_spark.queries.r_ops import _snapshots, _objects
from rehiver_spark.operators.changes import ChangeDetector, detect_changes
from rehiver_spark.sources.catalog import dedup_catalog

spark = get_spark(app_name="scale-catalog")
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.1"

def rep(df, n):
    r = spark.range(n).select(F.col("id").alias("_rep"))
    return df.crossJoin(r).select(
        F.concat(F.lit("rep"), F.col("_rep"), F.lit("/"), F.col("key")).alias("key"),
        *[c for c in df.columns if c != "key"],
    )

def timeit(label, mk, n=3):
    best = None
    for _ in range(n):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        mk().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label}: {best:.2f}s (min of {n})", flush=True)
    return best

# warm
spark.read.parquet(f"{SF}/lineitem.parquet").count()

cur1, prev1 = _snapshots(spark, SF)
n1 = cur1.count(); print("1x cur rows:", n1, flush=True)
timeit("r10 detect_changes 1x", lambda: detect_changes(cur1, prev1, mode="full"))
cur10, prev10 = rep(cur1, 10), rep(prev1, 10)
print("10x cur rows:", cur10.count(), flush=True)
timeit("r10 detect_changes 10x", lambda: detect_changes(cur10, prev10, mode="full"))

def catalog_df(scale):
    base = _objects(spark, SF).select(
        "key", "size", F.col("size").cast("string").alias("etag"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("last_modified"))
    if scale > 1:
        base = rep(base, scale)
    dup = base.filter(F.col("size") % 3 == 0).select(
        "key", (F.col("size") + 1).alias("size"),
        F.concat(F.lit("b"), F.col("etag")).alias("etag"),
        (F.col("last_modified") + F.expr("INTERVAL 1 HOUR")).alias("last_modified"))
    return dedup_catalog(base.unionByName(dup))

timeit("r16 dedup_catalog 1x", lambda: catalog_df(1))
timeit("r16 dedup_catalog 10x", lambda: catalog_df(10))

# --- round-5 follow-up: r16 persist-vs-recompute at the 10x catalog -----
# (VERDICT r4 "What's wrong #2": the recompute choice was measured at
# sf0.1 only; re-measure with the base projection persisted.)
def catalog_df_persisted(scale):
    base = _objects(spark, SF).select(
        "key", "size", F.col("size").cast("string").alias("etag"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("last_modified"))
    if scale > 1:
        base = rep(base, scale)
    base = base.persist()
    try:
        dup = base.filter(F.col("size") % 3 == 0).select(
            "key", (F.col("size") + 1).alias("size"),
            F.concat(F.lit("b"), F.col("etag")).alias("etag"),
            (F.col("last_modified") + F.expr("INTERVAL 1 HOUR")).alias("last_modified"))
        return dedup_catalog(base.unionByName(dup))
    finally:
        pass  # released by the timeit clearCache between runs

timeit("r16 dedup_catalog PERSISTED 1x", lambda: catalog_df_persisted(1))
timeit("r16 dedup_catalog PERSISTED 10x", lambda: catalog_df_persisted(10))

def commit_run(df):
    t0 = time.perf_counter()
    det = ChangeDetector(spark, tempfile.mkdtemp(prefix="snap_scale_"))
    det.add_objects(df)
    det.commit()
    n = det.store.load().count()
    return time.perf_counter() - t0, n

dt1, n1c = commit_run(cur1)
print(f"r12 snapshot_commit 1x: {dt1:.2f}s ({n1c} rows)", flush=True)
dt10, n10c = commit_run(cur10)
print(f"r12 snapshot_commit 10x: {dt10:.2f}s ({n10c} rows)", flush=True)
spark.stop()
