"""Per-call cost profile of ``minhash_neardup_pairs`` and ``fuzzy_dedup``
on the perfbench text corpus.

Builds the seeded corpus with ``perfbench/gen.py`` (imported, never
modified), keeps the exact-dedup survivors the way the
``dedup_pipeline`` text pass does, runs one warm-up call and then
``--calls`` warm calls, and prints one JSON line with a list per metric,
one entry per call. With ``--cold``, ``release_persisted()`` runs after
every call, so each call recomputes the operator caches (shingle ids,
signatures) that a warm call reads from the call before it. With
``--spark``, the driver branch's band-collision cap is set below zero,
so every call takes the Spark plan and both branches can be profiled.

- ``branch``: the branch each ``fuzzy_dedup`` call took (``driver`` or
  ``spark``), read from the operator's INFO dispatch record;
- ``pairs_jobs`` / ``pairs_wall_s``: Spark jobs and seconds of one
  ``minhash_neardup_pairs`` call plus the collect of its rows;
- ``pairs_call_s`` / ``pairs_gateway_calls``: seconds and py4j round
  trips (object releases excluded) of the ``minhash_neardup_pairs`` call
  alone. On the Spark branch that is building the lazy plan; on the
  driver branch the call is eager, so it is the whole collect and solve;
- ``jobs_per_call``: Spark jobs of one ``fuzzy_dedup`` call including
  the caller's collect, read from ``statusTracker().getJobIdsForGroup``;
- ``wall_s``: seconds for that call, collect included;
- ``broadcast_bytes``: bytes broadcast by that call, the sum of the
  ``data size`` SQL metric of every ``BroadcastExchange`` in the SQL
  executions it started, read from the SQL status store (the metric is
  stored formatted, e.g. ``64.5 MiB``, so the sum is good to 0.1 of the
  unit each value is printed in).

Usage: ``python tools/profile_fuzzy.py [--seed 1] [--docs 2000] [--calls 3] [--cold] [--spark]``
"""

from __future__ import annotations

import argparse
import contextlib
import json
import logging
import os
import re
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

JACCARD = 0.8  # perfbench DedupPipeline.JACCARD


@contextlib.contextmanager
def count_gateway_calls(spark):
    """Yield a one-item list holding the number of py4j commands sent
    while the block runs. Object-release commands are not counted: py4j
    queues them from finalizers and a background thread sends them
    later, in batches whose size varies from run to run."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        del client.send_command


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def scala_items(seq):
    """Python list of the elements of a Scala collection over py4j."""
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def broadcast_bytes(spark, after: int) -> tuple[int, int]:
    """``(bytes, last)``: the sum of the ``BroadcastExchange`` ``data
    size`` SQL metric over the SQL executions with an id above
    ``after``, and the highest execution id seen (pass it as ``after``
    next time)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    total, last = 0, after
    for ex in scala_items(store.executionsList()):
        eid = ex.executionId()
        if eid <= after:
            continue
        last = max(last, eid)
        values = {kv._1(): kv._2() for kv in scala_items(store.executionMetrics(eid))}
        for node in scala_items(store.planGraph(eid).allNodes()):
            if node.name() != "BroadcastExchange":
                continue
            for m in scala_items(node.metrics()):
                value = values.get(m.accumulatorId()) if m.name() == "data size" else None
                hit = re.fullmatch(r"([\d.]+) (\w+)", value or "")
                if hit:
                    total += int(float(hit.group(1)) * _UNITS[hit.group(2)])
    return total, last


class Branches(logging.Handler):
    """Collects the branch named at the end of each dispatch record."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.seen: list[str] = []

    def emit(self, record):
        msg = record.getMessage()
        if " band collisions" in msg or "big corpus" in msg:
            self.seen.append(msg.rsplit("-> ", 1)[-1])


def timed_jobs(sc, group: str, fn):
    """``(seconds, jobs)`` of ``fn()``, its jobs counted in job group ``group``."""
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        fn()
    finally:
        wall_s = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall_s, len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--calls", type=int, default=3)
    ap.add_argument("--cold", action="store_true",
                    help="release operator caches between calls")
    ap.add_argument("--spark", action="store_true",
                    help="force the Spark branch of the pair operators")
    args = ap.parse_args()

    from gen import Corpus

    from rehiver_spark import get_spark
    from rehiver_spark.operators import dedup
    from rehiver_spark.session import release_persisted

    if args.spark:
        dedup._NEARDUP_DRIVER_CAP = -1
    branches = Branches()
    logger = logging.getLogger(dedup.__name__)
    logger.addHandler(branches)
    logger.setLevel(logging.INFO)
    spark = get_spark(app_name="profile-fuzzy")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    out = {"seed": args.seed, "docs": args.docs, "cold": args.cold, "spark": args.spark}
    metrics = ("branch", "pairs_jobs", "pairs_wall_s", "pairs_call_s", "pairs_gateway_calls",
               "jobs_per_call", "wall_s", "broadcast_bytes")
    out.update({m: [] for m in metrics})
    _, seen = broadcast_bytes(spark, -1)
    with tempfile.TemporaryDirectory(prefix="profile-fuzzy-") as tmp:
        path = os.path.join(tmp, "corpus")
        Corpus(args.seed, args.docs).write(path)
        for call in range(args.calls + 1):
            df = spark.read.parquet(path)
            kept = dedup.exact_dedup(df).filter("is_keeper").select("doc_id", "text").persist()
            kept.count()
            with count_gateway_calls(spark) as n:
                t0 = time.perf_counter()
                pairs = dedup.minhash_neardup_pairs(kept, threshold=JACCARD)
                call_s = time.perf_counter() - t0
            pairs.collect()
            if args.cold:
                release_persisted()
            pairs_s, pairs_jobs = timed_jobs(sc, f"profile-pairs-{call}", lambda: (
                dedup.minhash_neardup_pairs(kept, threshold=JACCARD).collect()))
            if args.cold:
                release_persisted()
            _, seen = broadcast_bytes(spark, seen)
            del branches.seen[:]
            wall_s, jobs = timed_jobs(sc, f"profile-fuzzy-{call}", lambda: (
                dedup.fuzzy_dedup(kept, threshold=JACCARD).select(
                    "doc_id", "cluster_id", "is_keeper").collect()))
            bcast, seen = broadcast_bytes(spark, seen)
            kept.unpersist()
            if args.cold:
                release_persisted()
            if call == 0:
                continue  # warm-up
            for m, v in zip(metrics, (branches.seen[-1], pairs_jobs, round(pairs_s, 3),
                                      round(call_s, 3), n[0], jobs, round(wall_s, 3), bcast)):
                out[m].append(v)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
