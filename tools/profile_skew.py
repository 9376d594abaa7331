"""Skew probe of the MinHash pair operators: one boilerplate cluster.

Writes 4,000 perfbench docs (``perfbench/gen.py`` ``Corpus``, imported,
never modified) plus ``--hot`` one-token edits of the corpus's first
document, the template. Every edit is a near-dup of the template and of
each other, so at threshold 0.8 the template and its edits make one
cluster of ``--hot + 1`` documents and all C(hot + 1, 2) of its pairs
verify. Then it times ``--reps`` rounds of ``minhash_neardup_pairs``
(call plus ``count()``) and ``fuzzy_dedup`` (call plus ``collect()``)
and prints one JSON line: per round the wall seconds of each, the pair
count, the branch each call took (from the operator's INFO dispatch
record), and at the end the band collisions of the last call (``null``
for a big corpus, which counts none) and the Python process's ``VmHWM``
(peak resident memory) in MiB.

Usage: ``python tools/profile_skew.py [--seed 1] [--docs 4000] [--hot 2000] [--reps 2]``
"""

from __future__ import annotations

import argparse
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


def vm_hwm_mib() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=4000)
    ap.add_argument("--hot", type=int, default=2000, help="edits of the template")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    import numpy as np
    import pyarrow as pa
    from gen import Corpus, write_parts

    from rehiver_spark import get_spark
    from rehiver_spark.operators import dedup

    corpus = Corpus(args.seed, args.docs)
    template = corpus.texts[0].split()
    rng = np.random.default_rng(args.seed)
    edits = []
    for i in range(args.hot):
        toks = list(template)
        toks[int(rng.integers(len(toks)))] = f"edit{i}"
        edits.append(" ".join(toks))
    ids = np.concatenate([corpus.ids, np.arange(args.hot) + int(corpus.ids.max()) + 1])

    branches, collisions = [], []

    def dispatch(rec):  # the pair operators' record names their branch last
        msg = rec.getMessage()
        if " band collisions" in msg:
            branches.append(msg.rsplit("-> ", 1)[-1])
            hit = re.search(r"(\d+) band collisions", msg)
            collisions.append(int(hit.group(1)) if hit else None)

    handler = logging.Handler(logging.INFO)
    handler.emit = dispatch
    logger = logging.getLogger(dedup.__name__)
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)
    spark = get_spark(app_name="profile-skew")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"seed": args.seed, "docs": args.docs, "hot": args.hot, "pairs": [],
           "pairs_s": [], "fuzzy_s": [], "branch": [], "band_collisions": None}
    with tempfile.TemporaryDirectory(prefix="profile-skew-") as tmp:
        path = os.path.join(tmp, "corpus")
        write_parts(pa.table({"doc_id": ids, "text": corpus.texts + edits}), path)
        df = spark.read.parquet(path)
        for _ in range(args.reps):
            del branches[:]
            t0 = time.perf_counter()
            n = dedup.minhash_neardup_pairs(df, threshold=JACCARD).count()
            t1 = time.perf_counter()
            dedup.fuzzy_dedup(df, threshold=JACCARD).select("doc_id", "cluster_id").collect()
            t2 = time.perf_counter()
            out["pairs"].append(n)
            out["pairs_s"].append(round(t1 - t0, 2))
            out["fuzzy_s"].append(round(t2 - t1, 2))
            out["branch"].append("/".join(branches) or "?")
    out["band_collisions"] = collisions[-1] if collisions else None
    out["vm_hwm_mib"] = round(vm_hwm_mib(), 1)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
