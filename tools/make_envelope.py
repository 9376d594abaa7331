"""Emit the per-query envelope table for BASELINE.md (round 12,
verdict task 6: one mechanical gate reference instead of archaeology
across re-anchor paragraphs).

Reads the committed quiet-host sf0.1 anchor (BENCH_FULL.json) plus the
sf1/sf10 artifacts and prints a markdown table sorted by query name,
with the sf0.1 column marked as THE per-query envelope the 2x gate is
adjudicated against. Ad-hoc evidence generator — not shipped.

Usage: python tools/make_envelope.py [anchor.json [sf1.json [sf10.json]]]
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
anchor_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "BENCH_FULL.json")
sf1_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "BENCH_sf1.json")
sf10_path = sys.argv[3] if len(sys.argv) > 3 else os.path.join(ROOT, "BENCH_sf10.json")


def load(path):
    try:
        with open(path) as f:
            return json.load(f)
    except OSError:
        return {}


anchor = load(anchor_path)
sf1 = load(sf1_path).get("queries", {})
sf10 = load(sf10_path).get("queries", {})
q01 = anchor.get("queries", {})

print(
    f"Anchor: {anchor_path} — total {anchor.get('value')} s, "
    f"{anchor.get('n_queries')} queries, load_pre {anchor.get('load_pre')}, "
    f"load_floor {anchor.get('load_floor')}"
)
print()
print("| query | sf0.1 envelope (s) | sf1 (s) | sf10 (s) |")
print("|---|---|---|---|")
for name in sorted(q01):
    s1 = sf1.get(name)
    s10 = sf10.get(name)
    print(
        f"| {name} | {q01[name]:.3f} | "
        f"{'' if s1 is None else f'{s1:.3f}'} | "
        f"{'' if s10 is None else f'{s10:.3f}'} |"
    )
missing1 = sorted(set(q01) - set(sf1))
missing10 = sorted(set(q01) - set(sf10))
if missing1:
    print(f"\nmissing from sf1 artifact: {missing1}")
if missing10:
    print(f"\nmissing from sf10 artifact: {missing10}")
