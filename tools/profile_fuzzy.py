"""Per-call cost profile of ``fuzzy_dedup`` on the perfbench text corpus.

Builds the seeded corpus with ``perfbench/gen.py`` (imported, never
modified), keeps the exact-dedup survivors the way the
``dedup_pipeline`` text pass does, runs one warm-up call and then
``--calls`` warm calls, and prints one JSON line with a list per metric,
one entry per call. With ``--cold``, ``release_persisted()`` runs after
every call, so each call recomputes the operator caches (shingle ids,
signatures) that a warm call reads from the call before it:

- ``plan_gateway_calls``: py4j round trips made while building (not
  running) the ``minhash_neardup_pairs`` plan that ``fuzzy_dedup``
  hands to ``connected_components``, object releases excluded;
- ``plan_build_s``: seconds spent building that plan;
- ``jobs_per_call``: Spark jobs of one ``fuzzy_dedup`` call including
  the caller's collect, read from ``statusTracker().getJobIdsForGroup``;
- ``wall_s``: seconds for that call, collect included.

Usage: ``python tools/profile_fuzzy.py [--seed 1] [--docs 2000] [--calls 3] [--cold]``
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
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


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--calls", type=int, default=3)
    ap.add_argument("--cold", action="store_true",
                    help="release operator caches between calls")
    args = ap.parse_args()

    from gen import Corpus

    from rehiver_spark import get_spark
    from rehiver_spark.session import release_persisted
    from rehiver_spark.operators.dedup import (
        exact_dedup, fuzzy_dedup, minhash_neardup_pairs,
    )

    spark = get_spark(app_name="profile-fuzzy")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    out = {"seed": args.seed, "docs": args.docs, "cold": args.cold, "plan_gateway_calls": [],
           "plan_build_s": [], "jobs_per_call": [], "wall_s": []}
    with tempfile.TemporaryDirectory(prefix="profile-fuzzy-") as tmp:
        path = os.path.join(tmp, "corpus")
        Corpus(args.seed, args.docs).write(path)
        for call in range(args.calls + 1):
            df = spark.read.parquet(path)
            kept = exact_dedup(df).filter("is_keeper").select("doc_id", "text").persist()
            kept.count()
            with count_gateway_calls(spark) as n:
                t0 = time.perf_counter()
                minhash_neardup_pairs(kept, threshold=JACCARD)
                build_s = time.perf_counter() - t0
            group = f"profile-fuzzy-{call}"
            sc.setJobGroup(group, "fuzzy_dedup")
            t0 = time.perf_counter()
            fuzzy_dedup(kept, threshold=JACCARD).select(
                "doc_id", "cluster_id", "is_keeper").collect()
            wall_s = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            kept.unpersist()
            if args.cold:
                release_persisted()
            if call == 0:
                continue  # warm-up
            out["plan_gateway_calls"].append(n[0])
            out["plan_build_s"].append(round(build_s, 3))
            out["jobs_per_call"].append(len(sc.statusTracker().getJobIdsForGroup(group)))
            out["wall_s"].append(round(wall_s, 3))
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
