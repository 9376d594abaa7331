"""Answer checks against the generators' closed-form truths.

Each check returns a list of failure messages; an empty list means the
answer is right. They take plain Python values, so the benchmark's own
tests can feed them corrupted answers without starting Spark.
"""

from __future__ import annotations

import numpy as np

from gen import jaccard, shingle_set


def expect_equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def check_round(got: dict, truth: dict, changes: dict) -> list[str]:
    """One catalog_sync round: unique, valid and glob-matched key
    counts, per-type change counts and the commit read-back."""
    errs = []
    for k in ("unique_keys", "valid_keys", "glob_matched"):
        errs += expect_equal(k, got.get(k), truth[k])
    for k in ("added", "deleted", "modified", "unchanged"):
        errs += expect_equal(f"changes.{k}", got.get("changes", {}).get(k, 0), changes[k])
    errs += expect_equal("commit read-back", got.get("readback"), truth["unique_keys"])
    return errs


def check_lookups(keys: list[str], values: list, truth: dict) -> list[str]:
    """Every metadata lookup equals what the fetcher holds for the key."""
    bad = [k for k, v in zip(keys, values) if v != truth.get(k)]
    if bad:
        return [f"{len(bad)} of {len(keys)} lookups differ from the fetcher, e.g. {bad[0]}"]
    return []


def check_scan(count: int, total: float, want_count: int, want_sum: float,
               rel: float = 1e-9) -> list[str]:
    """A range aggregate: exact row count, value sum to ``rel``."""
    errs = expect_equal("scan count", count, want_count)
    if total is None or abs(total - want_sum) > rel * max(abs(want_sum), 1.0):
        errs.append(f"scan sum: got {total!r}, want {want_sum!r}")
    return errs


def check_exact_dedup(n_keepers: int, want_keepers: int) -> list[str]:
    return expect_equal("exact_dedup keepers", n_keepers, want_keepers)


def check_text_pairs(pairs: list[tuple[int, int]], texts: dict, threshold: float
                     ) -> list[str]:
    """Every verified near-dup pair's Jaccard, recomputed here from the
    texts, is at least the threshold."""
    bad = []
    for a, b in pairs:
        j = jaccard(shingle_set(texts[a]), shingle_set(texts[b]))
        if j < threshold:
            bad.append((a, b, round(j, 4)))
    return [f"{len(bad)} of {len(pairs)} pairs below {threshold}, e.g. {bad[0]}"] if bad else []


def check_clusters(cluster_of: dict, keepers: int, planted: list[tuple[int, int]],
                   min_recall: float, texts: dict, threshold: float) -> list[str]:
    """fuzzy_dedup output: one keeper per cluster; every member of a
    multi-document cluster has Jaccard at least ``threshold`` with some
    other member (it joined through a verified pair), recomputed here;
    and planted pairs share a cluster at least ``min_recall`` of the
    time."""
    errs = expect_equal("keepers == clusters", keepers, len(set(cluster_of.values())))
    members: dict = {}
    for doc, c in cluster_of.items():
        members.setdefault(c, []).append(doc)
    sets = {}
    lonely = []
    for docs in members.values():
        if len(docs) < 2:
            continue
        for d in docs:
            sets.setdefault(d, shingle_set(texts[d]))
        for d in docs:
            if not any(jaccard(sets[d], sets[o]) >= threshold for o in docs if o != d):
                lonely.append(d)
    if lonely:
        errs.append(f"{len(lonely)} clustered docs have no member at Jaccard >= {threshold},"
                    f" e.g. {lonely[0]}")
    if planted:
        hit = sum(cluster_of.get(a) == cluster_of.get(b) for a, b in planted)
        if hit < min_recall * len(planted):
            errs.append(f"planted recall {hit}/{len(planted)} below {min_recall}")
    return errs


def check_vector_pairs(pairs: list[tuple[int, int]], vecs: np.ndarray, threshold: float,
                       planted: list[tuple[int, int]], min_recall: float) -> list[str]:
    """Every returned pair's recomputed cosine is at least the threshold,
    and planted pairs are recalled at least ``min_recall`` of the time."""
    errs = []
    if pairs:
        a, b = np.array(pairs).T
        cos = np.einsum("ij,ij->i", vecs[a], vecs[b])
        below = int((cos < threshold).sum())
        if below:
            errs.append(f"{below} of {len(pairs)} vector pairs below {threshold}")
    if planted:
        got = {(min(a, b), max(a, b)) for a, b in pairs}
        hit = sum((min(a, b), max(a, b)) in got for a, b in planted)
        if hit < min_recall * len(planted):
            errs.append(f"planted vector recall {hit}/{len(planted)} below {min_recall}")
    return errs
