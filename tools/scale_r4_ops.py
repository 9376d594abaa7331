"""Scaling spot-checks for the round-4 operators (X28/X29/X30).

Evidence generator for BASELINE.md — not shipped. Axes chosen to match
each operator's 100 TB failure mode:

- X28 incremental dedup: the INDEX is the thing that grows (the corpus
  is never read), so hold the batch fixed and grow the index 10x/100x —
  cost should grow far sub-linearly (hash-join bound, batch side tiny).
- X29 fuzzy dedup: replicate documents 8x with unique ids (every
  replica pair a true near-dup — deliberate pair inflation like the
  existing x2/x7 rows) — candidate generation must stay shuffle-linear
  while verification/CC grow with true-pair output.
- X30 z-order write: grow rows 10x — one range shuffle + sort, should
  track input near-linearly; skip fraction must hold at scale.
"""
import os, sys, time, tempfile
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from rehiver_spark.session import get_spark
from rehiver_spark.operators.dedup import (
    dedup_index, fuzzy_dedup, incremental_exact_dedup,
)
from rehiver_spark.sources.writer import (
    file_skip_stats, skip_fraction, write_zordered,
)

spark = get_spark(app_name="scale-r4")
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.1"

def timeit(label, mk, n=3, sink="noop"):
    best = None
    for _ in range(n):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        if sink == "noop":
            mk().write.format("noop").mode("overwrite").save()
        else:
            mk()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label}: {best:.2f}s (min of {n})", flush=True)
    return best

docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
n_docs = docs.count()
spark.read.parquet(f"{SF}/lineitem.parquet").count()  # warm

# ---- X28: batch fixed, index grows --------------------------------------
batch = docs.filter("doc_id % 10 = 0")
real_idx = dedup_index(docs.filter("doc_id % 10 != 0"))
print(f"x28 batch rows: {batch.count()}", flush=True)
for mult, label in [(1, "1x (4.5k hashes)"), (100, "100x (450k)"), (2000, "2000x (9M)")]:
    # synthetic sha256-shaped hashes, disjoint from real ones
    if mult == 1:
        idx = real_idx
    else:
        idx = spark.range(n_docs * 9 // 10 * mult).select(
            F.sha2(F.concat(F.lit("pad:"), F.col("id").cast("string")), 256).alias("content_sha")
        ).unionByName(real_idx)
    idx = idx.localCheckpoint()  # materialize: time the JOIN, not index synthesis
    timeit(f"x28 incremental dedup, index {label}",
           lambda i=idx: incremental_exact_dedup(batch, i))

# ---- X29: corpus grows 8x (every replica pair a true near-dup) ----------
def rep_docs(k):
    r = spark.range(k).select(F.col("id").alias("_r"))
    return docs.crossJoin(r).select(
        (F.col("doc_id") + F.col("_r") * 1_000_000).alias("doc_id"), "text"
    )

for k, label in [(1, "1x (5k docs)"), (8, "8x (40k docs)")]:
    d = docs if k == 1 else rep_docs(k)
    print(f"x29 corpus rows: {d.count()}", flush=True)
    timeit(f"x29 fuzzy_dedup (xxhash64) {label}",
           lambda dd=d: fuzzy_dedup(dd), n=2)

# ---- X30: rows grow 10x --------------------------------------------------
ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id", "value")
ev10 = ev.crossJoin(spark.range(10).select(F.col("id").alias("_r"))).select(
    (F.col("event_id") + F.col("_r") * 10_000_000).alias("event_id"), "user_id", "value"
)
for df, label, nf in [(ev, "1x (150k rows)", 8), (ev10, "10x (1.5M rows)", 32)]:
    out = tempfile.mkdtemp(prefix="zs_") + "/ev"
    timeit(f"x30 write_zordered {label}",
           lambda d=df, o=out: write_zordered(d, o, ["user_id", "value"], bits=6, n_files=nf),
           n=2, sink="none")
    qs = df.approxQuantile(["user_id", "value"], [0.4, 0.6], 0.001)
    frac = skip_fraction(
        file_skip_stats(spark, out, ["user_id", "value"]),
        {"user_id": (qs[0][0], qs[0][1]), "value": (qs[1][0], qs[1][1])},
    )
    print(f"x30 box skip fraction {label}: {frac:.2f}", flush=True)
