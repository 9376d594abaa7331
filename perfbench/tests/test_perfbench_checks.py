"""The benchmark's own tests: the generators' closed-form truths agree
with the package's driver-side matchers, every check passes a right
answer, and every check catches a deliberately corrupted one.

    python3 -m pytest perfbench/tests -q

No Spark session is started.
"""

import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
from gen import (GLOB_PATTERNS, Catalog, Corpus, Embeddings, EventLake,  # noqa: E402
                 LookupStream, jaccard, shingle_set)
from spans import Tracer  # noqa: E402


def _round_answer(cat: Catalog, ch: dict) -> dict:
    t = cat.truth()
    return {"unique_keys": t["unique_keys"], "valid_keys": t["valid_keys"],
            "glob_matched": t["glob_matched"], "readback": t["unique_keys"],
            "changes": {k: ch[k] for k in ("added", "deleted", "modified", "unchanged")}}


def test_catalog_truth_matches_package_matchers():
    from rehiver_spark.functions.globs import PathMatcher
    from rehiver_spark.operators.partitions import date_schema

    cat = Catalog(seed=3, n_keys=3000)
    cat.mutate()
    keys = cat.keys(cat.alive_ids())
    t = cat.truth()
    assert len(PathMatcher().match(keys, GLOB_PATTERNS)) == t["glob_matched"] > 0
    schema = date_schema()
    valid = sum(schema.is_valid(k.rsplit("/", 1)[0].split("/", 1)[1]) for k in keys)
    assert valid == t["valid_keys"] < len(keys)


def test_catalog_checks_catch_corruption():
    cat = Catalog(seed=1, n_keys=2000)
    ch = cat.mutate()
    truth = cat.truth()
    good = _round_answer(cat, ch)
    assert checks.check_round(good, truth, ch) == []
    for field in ("unique_keys", "valid_keys", "glob_matched", "readback"):
        bad = {**good, field: good[field] + 1}
        assert checks.check_round(bad, truth, ch), field
    for kind in ("added", "deleted", "modified", "unchanged"):
        bad = {**good, "changes": {**good["changes"], kind: good["changes"][kind] - 1}}
        assert checks.check_round(bad, truth, ch), kind


def test_lookup_check_catches_stale_metadata():
    cat = Catalog(seed=2, n_keys=2000)
    ls = LookupStream(cat, working_set=500)
    keys = ls.draw(1000)
    stale = {k: ls.truth[k] for k in keys}
    assert checks.check_lookups(keys, [ls.fetch("b", k) for k in keys], ls.truth) == []
    cat.version[ls.ids] += 1  # every working-set key modified...
    ls.refresh()  # ...and the fetcher now serves the new metadata
    assert checks.check_lookups(keys, [stale[k] for k in keys], ls.truth)


def test_scan_check_catches_wrong_count_and_sum(tmp_path):
    lake = EventLake(seed=4, n_events=20_000)
    lake.write_base(str(tmp_path / "events"))
    n, s = lake.range_truth(10, 39)
    assert n == lake.count[10:40].sum() > 0
    assert checks.check_scan(n, s * (1 + 1e-12), n, s) == []
    assert checks.check_scan(n + 1, s, n, s)
    assert checks.check_scan(n, s * (1 + 1e-6), n, s)
    assert checks.check_scan(n, None, n, s)


def test_month_days_cover_the_year():
    spans = [EventLake.month_days(m) for m in range(1, 13)]
    assert spans[0][0] == 0 and spans[-1][1] == 364
    assert all(a[1] + 1 == b[0] for a, b in zip(spans, spans[1:]))


def test_dedup_checks_catch_corruption():
    c = Corpus(seed=5, n_docs=300)
    assert checks.check_exact_dedup(c.exact_keepers(), c.exact_keepers()) == []
    assert checks.check_exact_dedup(c.exact_keepers() + 1, c.exact_keepers())
    # a right clustering: each planted near pair is one cluster
    cluster_of = {i: i for i in c.ids.tolist()}
    for a, b in c.near_pairs:
        cluster_of[a] = cluster_of[b] = min(a, b)
    keepers = len(set(cluster_of.values()))
    args = (c.near_pairs, 0.9, c.by_id, 0.8)
    assert all(jaccard(shingle_set(c.by_id[a]), shingle_set(c.by_id[b])) >= 0.8
               for a, b in c.near_pairs)
    assert checks.check_clusters(cluster_of, keepers, *args) == []
    # one keeper too many
    assert checks.check_clusters(cluster_of, keepers + 1, *args)
    # two unrelated documents merged into one cluster
    loners = [i for i in c.ids.tolist() if list(cluster_of.values()).count(cluster_of[i]) == 1]
    bad = {**cluster_of, loners[1]: cluster_of[loners[0]]}
    assert checks.check_clusters(bad, len(set(bad.values())), *args)
    # planted pairs split apart
    split = {i: i for i in c.ids.tolist()}
    assert checks.check_clusters(split, len(split), *args)
    # a verified pair below the threshold
    assert checks.check_text_pairs(c.near_pairs, c.by_id, 0.8) == []
    assert checks.check_text_pairs([(loners[0], loners[1])], c.by_id, 0.8)


def test_vector_checks_catch_corruption():
    e = Embeddings(seed=6, n_vecs=400)
    planted = [(a, b) for a, b, cos in e.planted_pairs() if cos >= 0.98]
    assert len(planted) > 20
    assert checks.check_vector_pairs(planted, e.vecs, 0.95, planted, 0.9) == []
    rng = np.random.default_rng(0)
    far = tuple(int(x) for x in rng.choice(len(e.vecs), 2, replace=False))
    assert float(e.vecs[far[0]] @ e.vecs[far[1]]) < 0.95
    assert checks.check_vector_pairs(planted + [far], e.vecs, 0.95, planted, 0.9)
    assert checks.check_vector_pairs(planted[: len(planted) // 2], e.vecs, 0.95, planted, 0.9)


def test_generators_are_seeded():
    assert Corpus(seed=7, n_docs=100).texts == Corpus(seed=7, n_docs=100).texts
    assert Corpus(seed=7, n_docs=100).texts != Corpus(seed=8, n_docs=100).texts
    a, b = Catalog(seed=9, n_keys=500), Catalog(seed=9, n_keys=500)
    assert a.mutate()["added_ids"].tolist() == b.mutate()["added_ids"].tolist()
    assert a.keys(a.alive_ids()) == b.keys(b.alive_ids())


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    tr.spans = [
        {"id": 0, "name": "round", "parent": None, "start": 0.0, "end": 10.0, "counts": {}},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0, "counts": {"x": 2}},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0, "counts": {}},
        {"id": 3, "name": "a", "parent": None, "start": 20.0, "end": 21.0, "counts": {"x": 4}},
    ]
    assert tr.self_times() == {0: 5.0, 1: 3.0, 2: 3.0, 3: 1.0}
    m = tr.layer_metrics()
    assert m["round_s"] == 5.0 and m["a_s"] == 2.0 and m["x"] == 3.0
