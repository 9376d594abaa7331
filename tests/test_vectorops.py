import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(sf_dir):
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    labels = np.array([r[2] for r in rows])
    return ids, mat, labels


def _np_topk(ids, mat, qids, k):
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qi in qids:
        sims = normed @ normed[list(ids).index(qi)]
        order = sorted(zip(-sims, ids), key=lambda t: (t[0], t[1]))
        out[qi] = [(i, -s) for s, i in order[:k]]
    return out


def test_cosine_topk_matches_numpy(emb, emb_np):
    from rehiver_spark.operators.vectorops import cosine_topk

    ids, mat, _ = emb_np
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(queries, emb, k=5).collect()
    exp = _np_topk(ids, mat, range(5), 5)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    for q in range(5):
        for (gi, gs), (ei, es) in zip(by_q[q], exp[q]):
            assert gi == ei and abs(gs - es) < 1e-9


def test_topk_plan_broadcasts_queries(emb):
    from rehiver_spark.operators.vectorops import cosine_topk

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = cosine_topk(queries, emb, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_cosine_neardup_within_label_matches_numpy(emb, emb_np):
    from rehiver_spark.operators.vectorops import cosine_neardup_pairs

    ids, mat, labels = emb_np
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    exp = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if labels[i] == labels[j] and sims[i, j] >= 0.9:
                exp.add((ids[i], ids[j]))
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(emb, threshold=0.9, block_col="label").collect()
    }
    assert got == exp


def test_lsh_cosine_neardup_subset(emb, emb_np):
    from rehiver_spark.operators.vectorops import lsh_cosine_neardup

    ids, mat, _ = emb_np
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    exp = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= 0.9
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_cosine_neardup(emb, dim=64, threshold=0.9).collect()
    }
    assert got <= exp  # exact-verified candidates only


def test_ivf_topk_reasonable(emb, emb_np):
    from rehiver_spark.operators.vectorops import cosine_topk, ivf_topk

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in cosine_topk(queries, emb, k=3).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(queries, emb, k=3, n_cells=8, n_probe=4).collect()
    }
    # rank-1 self-hit must always survive (query is in the corpus)
    for q in range(5):
        assert approx[(q, 1)] == exact[(q, 1)] == q


def test_semdedup_drops_planted_copies(emb, emb_np):
    from rehiver_spark.operators.vectorops import semdedup

    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x + 0.02).alias(
            "embedding"
        ),
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    rows = {r["vec_id"]: r for r in semdedup(corpus, threshold=0.9, n_cells=8).collect()}

    ids, mat, _ = emb_np
    n = len(ids)
    assert len(rows) == n + (n + 4) // 5
    # a planted copy is dropped iff it shares a cell with its (lower-id)
    # original — cross-cell survival is the inherent SemDeDup
    # approximation; most copies must co-locate and be dropped
    planted_ids = [v for v in rows if v >= 100000]
    dropped = [v for v in planted_ids if not rows[v]["keep"]]
    for vid in planted_ids:
        r = rows[vid]
        if rows[vid - 100000]["cell_id"] == r["cell_id"]:
            assert not r["keep"], vid
            assert r["max_prior_cosine"] >= 0.9
    assert len(dropped) >= 0.8 * len(planted_ids)
    # originals: naturally near-orthogonal corpus -> everything kept
    kept = [r for vid, r in rows.items() if vid < 100000 and r["keep"]]
    assert len(kept) == n
    # min-id member of each cell has no prior neighbor
    for cell in {r["cell_id"] for r in rows.values()}:
        members = [vid for vid, r in rows.items() if r["cell_id"] == cell]
        assert rows[min(members)]["max_prior_cosine"] == -1.0


def test_neardup_all_pairs_requires_opt_in(emb):
    from rehiver_spark.operators.vectorops import cosine_neardup_pairs

    with pytest.raises(ValueError, match="all_pairs"):
        cosine_neardup_pairs(emb, threshold=0.9)
    # explicit opt-in builds the plan (exact baseline path still exists)
    df = cosine_neardup_pairs(emb.limit(20), threshold=0.9, allow_all_pairs=True)
    assert set(df.columns) == {"id_a", "id_b", "cosine"}


def test_semdedup_splits_hot_cells(spark):
    """A deliberately skewed clustering — every row lands in ONE cell
    (n_cells=1) — must be re-split so no cell exceeds max_cell_rows,
    and the within-cell keep semantics must hold on the final cells."""
    from rehiver_spark.operators.vectorops import semdedup

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((200, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    rows = semdedup(
        corpus, threshold=0.9, n_cells=1, max_cell_rows=50, max_split_rounds=6
    ).collect()
    assert len(rows) == 200
    pops: dict = {}
    for r in rows:
        pops[r["cell_id"]] = pops.get(r["cell_id"], 0) + 1
    assert len(pops) > 1 and max(pops.values()) <= 50
    # keep semantics per final cell: dropped ⇔ a lower-id cell member
    # with cosine ≥ threshold exists
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell_id"], []).append(r["vec_id"])
    for r in rows:
        lower = [m for m in by_cell[r["cell_id"]] if m < r["vec_id"]]
        best = max((sims[m, r["vec_id"]] for m in lower), default=-1.0)
        assert r["keep"] == (best < 0.9)
        assert abs(r["max_prior_cosine"] - best) < 1e-9


def test_kmeans_centroids_balance_and_plug_in(spark):
    """Trained centroids (sample k-means) must spread a clustered
    corpus over cells far better than id-seeded centroids, and must
    slot into ivf_topk/semdedup unchanged."""
    from rehiver_spark.operators.vectorops import (
        centroids_df,
        ivf_topk,
        kmeans_sample_centroids,
        semdedup,
    )

    rng = np.random.default_rng(3)
    # 4 tight clusters; ids ordered so id-seeding takes all seeds from
    # cluster 0 (the adversarial case for id-seeded cells)
    centers = rng.standard_normal((4, 8)) * 4
    mat = np.vstack([centers[i // 50] + rng.standard_normal(8) * 0.05 for i in range(200)])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_sample_centroids(corpus, k=4, iters=8)
    assert len(cents) == 4
    cdf = centroids_df(spark, cents)
    out = semdedup(
        corpus, threshold=0.99, n_cells=4, max_cell_rows=None, centroids=cdf
    ).collect()
    pops: dict = {}
    for r in out:
        pops[r["cell_id"]] = pops.get(r["cell_id"], 0) + 1
    # every true cluster gets its own cell: 4 cells of exactly 50
    assert sorted(pops.values()) == [50, 50, 50, 50]
    # ivf with trained centroids still returns the rank-1 self-hit
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(queries, corpus, k=2, n_probe=1, centroids=cdf).collect()
    }
    for q in range(3):
        assert got[(q, 1)] == q


def test_quantize_int8_roundtrip_bounds(spark, emb):
    from rehiver_spark.operators.vectorops import quantize_int8

    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(
        spark.createDataFrame([(999999, [0.0] * 64)], "vec_id long, embedding array<double>")
    )
    rows = quantize_int8(corpus).collect()
    orig = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
    for r in rows:
        xs, qs, scale = orig[r["vec_id"]], r["q"], r["scale"]
        assert all(-127 <= q <= 127 for q in qs)
        if r["vec_id"] == 999999:
            assert scale == 0.0 and all(q == 0 for q in qs)
            continue
        assert scale > 0
        # max-magnitude element maps to ±127; error bounded by scale/2
        assert max(abs(q) for q in qs) == 127
        assert all(abs(q * scale - x) <= scale / 2 + 1e-12 for q, x in zip(qs, xs))


def test_kmeans_reseeds_distinct_centroids(spark):
    from rehiver_spark.operators.vectorops import kmeans_sample_centroids

    rng = np.random.default_rng(11)
    # one tight cluster: initial seeds nearly identical → several cells
    # empty in the same Lloyd iteration → re-seeds must stay distinct
    mat = rng.standard_normal(8) + rng.standard_normal((50, 8)) * 0.01
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_sample_centroids(corpus, k=4, iters=3)
    assert len({tuple(c) for c in cents}) == 4


def test_semdedup_auto_cap_respects_external_centroids(spark):
    from rehiver_spark.operators.vectorops import (
        centroids_df,
        kmeans_sample_centroids,
        semdedup,
    )

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((4, 8)) * 4
    mat = np.vstack([centers[i // 50] + rng.standard_normal(8) * 0.05 for i in range(200)])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    cdf = centroids_df(spark, kmeans_sample_centroids(corpus, k=4, iters=8))
    # defaults (n_cells=None, max_cell_rows="auto") must size the cap
    # from the REAL k=4, not an adaptive sqrt(N) — trained cells of 50
    # stay intact instead of being shredded as "hot"
    out = semdedup(corpus, threshold=0.99, centroids=cdf).collect()
    pops: dict = {}
    for r in out:
        pops[r["cell_id"]] = pops.get(r["cell_id"], 0) + 1
    assert sorted(pops.values()) == [50, 50, 50, 50]


def _assign_both(emb, cents):
    """{id: cell_id} from the Arrow assignment kernel and from the
    broadcast-join + window helper (``_assign_to_cells``, ivf_topk's
    form) on the same l2-normalized rows and centroid table."""
    from rehiver_spark.operators.vectorops import (
        _assign_cells_arrow,
        _assign_to_cells,
        l2_normalize,
    )

    normed = emb.select(
        F.col("vec_id").alias("_id"), l2_normalize("embedding").alias("_v")
    )
    return tuple(
        {r["_id"]: r["cell_id"] for r in fn(normed, cents).collect()}
        for fn in (_assign_cells_arrow, _assign_to_cells)
    )


def _id_seeded_cents(emb, n_cells):
    """semdedup's default centroids: the ``n_cells`` smallest ids."""
    from rehiver_spark.operators.vectorops import l2_normalize

    return (
        emb.orderBy("vec_id")
        .limit(n_cells)
        .select(F.col("vec_id").alias("cell_id"), l2_normalize("embedding").alias("_centv"))
    )


def _check_prior_max(emb, out):
    """Pure-Python reference for semdedup's within-cell prior-max over
    the cells ``out`` assigned: per id, the max left-to-right-folded
    cosine to a lower-id member of its cell, counting a pair only when
    both normalized vectors are non-NULL, NULL-element-free and of
    equal length; NaN is the greatest value; −1.0 when nothing
    qualifies. ``keep`` must be ``max_prior_cosine < threshold``."""
    import math

    from rehiver_spark.operators.vectorops import l2_normalize

    vec = {
        r[0]: r[1]
        for r in emb.select("vec_id", l2_normalize("embedding")).collect()
    }
    cell = {r["vec_id"]: r["cell_id"] for r in out}
    ok = {i: v is not None and None not in v for i, v in vec.items()}
    for r in out:
        i, v = r["vec_id"], vec[r["vec_id"]]
        cos = []
        for j, w in vec.items():
            if j < i and cell[j] == cell[i] and ok[i] and ok[j] and len(v) == len(w):
                acc = 0.0
                for x, y in zip(v, w):
                    acc += x * y
                cos.append(acc)
        want = -1.0 if not cos else max(cos, key=lambda c: (math.isnan(c), c))
        got = r["max_prior_cosine"]
        assert got == want or (math.isnan(got) and math.isnan(want)), (i, got, want)


def test_semdedup_arrow_assignment_equals_expr(spark):
    """The round-8 Arrow assignment (collected clamp-bounded centroids,
    sequential per-dimension accumulation, argmax-first tiebreak) must
    reproduce the broadcast-join + window helper bit-for-bit — including
    the edges: exact-duplicate vectors (score ties → smallest cell_id)
    and a zero vector (l2_normalize yields NULL → smallest cell id) —
    and semdedup's prior-max must match the pure-Python reference over
    the cells it assigned."""
    from rehiver_spark.operators.vectorops import semdedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pert = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
    )
    edge = spark.createDataFrame(
        [
            (990001, [0.0] * 64),              # zero vec → NULL normalized
            (990002, [1.0] * 64),
            (990003, [1.0] * 64),              # exact dup: argmax tie
        ],
        "vec_id long, embedding array<double>",
    )
    corpus = e.select("vec_id", "embedding").unionByName(pert).unionByName(edge)
    out = semdedup(corpus, n_cells=None, max_cell_rows=None).collect()
    # the default k: floor(sqrt(N)) + 1 clamped to [16, 65536]
    k = max(16, min(65536, int(corpus.count() ** 0.5) + 1))
    a, x = _assign_both(corpus, _id_seeded_cents(corpus, k))
    assert a == x
    assert {r["vec_id"]: r["cell_id"] for r in out} == a
    _check_prior_max(corpus, out)
    assert all(r["keep"] == (r["max_prior_cosine"] < 0.9) for r in out)
    # the zero vector lands in the smallest cell
    assert a[990001] == min(a.values())
    # the exact duplicate shares its twin's cell and is dropped
    assert a[990002] == a[990003]
    assert not {r["vec_id"]: r["keep"] for r in out}[990003]


def test_semdedup_arrow_keeps_nan_cosines_nan(spark):
    """An inf input element rides through l2_normalize as a NaN vector
    position, so its pair cosines are NaN — Spark's max sorts NaN
    greatest and coalesce passes NaN through (keep=false). The kernel
    must keep NaN as NaN (no-prior is positional, never inferred from
    the value) and match the pure-Python prior-max reference."""
    import math

    from rehiver_spark.operators.vectorops import semdedup

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [float("inf"), 1.0, 0.0]),  # NaN after normalization
            (3, [1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = semdedup(corpus, threshold=0.9, n_cells=1, max_cell_rows=None).collect()
    _check_prior_max(corpus, out)
    by = {r[0]: tuple(r) for r in out}
    # id 3's best prior is the NaN cosine vs id 2 per Spark max
    # semantics (NaN sorts greatest) → keep must be False
    assert math.isnan(by[3][2]) and by[3][3] is False
    assert by[1][2] == -1.0 and by[1][3] is True


def test_semdedup_arrow_ignores_null_centroid(spark):
    """An externally-fitted centroid table containing a NULL vector
    must never capture a row (a NULL score sorts last in the
    broadcast-join helper) — the arrow kernel skips it."""
    from rehiver_spark.operators.vectorops import semdedup

    corpus = spark.createDataFrame(
        [(i, [1.0 * (i % 3), 1.0, 0.5 * i]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, None), (2, [0.0, 1.0, 1.0])],
        "cell_id bigint, _centv array<double>",
    )
    a, x = _assign_both(corpus, cents)
    assert a == x
    assert 1 not in a.values()  # the NULL centroid owns nothing
    out = semdedup(corpus, centroids=cents).collect()
    assert {r["vec_id"]: r["cell_id"] for r in out} == a
    _check_prior_max(corpus, out)


def test_semdedup_arrow_mixed_dims_equals_expr(spark):
    """Round-9 advisor fix: one malformed-length embedding used to
    raise PythonException in _prior_max_arrow (np.vstack on a ragged
    list). Both kernels follow ``zip_with``'s NULL-padding semantics
    for mixed dimensions: a pair / (row, centroid) scores non-NULL only
    when both sides are valid AND equal length — checked against the
    broadcast-join assignment helper and the pure-Python prior-max."""
    from rehiver_spark.operators.vectorops import semdedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0]),          # dim-2 seed → mixed-dim centroid set
        (3, [0.9, 0.1, 0.0]),
        (4, [0.1, 0.9]),
        (5, None),                # NULL vector
        (6, [1.0, None, 0.0]),    # NULL element (→ NULL via normalize)
        (7, [0.0, 0.9, 0.1]),
        (8, [1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for n_cells in (2, 1):
        out = semdedup(
            corpus, threshold=0.9, n_cells=n_cells, max_cell_rows=None
        ).collect()
        a, x = _assign_both(corpus, _id_seeded_cents(corpus, n_cells))
        assert a == x, f"n_cells={n_cells}"
        assert {r["vec_id"]: r["cell_id"] for r in out} == a
        _check_prior_max(corpus, out)
    # n_cells=1: every row shares one cell, so the prior-max must run
    # per LENGTH GROUP: dim-2 rows only see lower-id dim-2 members
    by = {r[0]: tuple(r) for r in out}
    assert by[2][2] == -1.0       # dim-2 group's min id: no prior
    assert by[5][2] == -1.0 and by[6][2] == -1.0  # invalid: no prior


def test_semdedup_arrow_mixed_dim_centroids_equals_expr(spark):
    """Round-9 advisor fix for _assign_cells_arrow: the old kernel set
    d = max centroid dim, so one oversized centroid in an external
    table collapsed every normal-dim row into the smallest cell. The
    broadcast-join helper scores rows against matching-dim centroids
    only — the kernel now groups centroids by dimension and matches
    it."""
    from rehiver_spark.operators.vectorops import semdedup

    corpus = spark.createDataFrame(
        [(i, [1.0 * (i % 3), 1.0, 0.5 * i]) for i in range(24)]
        + [(100, [0.0, 1.0]), (101, [1.0, 0.0])],  # dim-2 rows
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 1.0]),
            (2, [0.0, 1.0]),            # the only dim-2 centroid
            (3, [1.0, 0.0, 0.0, 0.0]),  # oversized (old kernel's d=max trap)
        ],
        "cell_id bigint, _centv array<double>",
    )
    a, x = _assign_both(corpus, cents)
    assert a == x
    # dim-2 rows score only against the dim-2 centroid — NOT the
    # smallest-cell fallback the max-d kernel produced
    assert a[100] == 2 and a[101] == 2
    # dim-3 rows keep their proper dim-3 assignment (the oversized
    # centroid must not have flipped d for the whole corpus)
    assert all(a[i] in (0, 1) for i in range(24))
    out = semdedup(corpus, centroids=cents).collect()
    assert {r["vec_id"]: r["cell_id"] for r in out} == a
    _check_prior_max(corpus, out)


def test_split_hot_cells_exhausted_warning_names_true_worst(spark):
    """Round-9 advisor fix: rounds exhausting with BOTH a frozen
    degenerate cell and a still-progressing over-cap cell used to
    suppress the rounds-exhausted warning (`and not frozen`), leaving
    only the frozen warning whose max(frozen pops) understates the
    real worst population. Both warnings now fire independently."""
    import warnings

    from rehiver_spark.operators.vectorops import _split_hot_cells

    rows = [(i, 100, [1.0, 0.0, 0.0]) for i in range(6)]  # degenerate: 6 identical
    vals = [[0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [0.6, 0.8, 0.0]]
    rows += [  # 39 rows, 3 identical groups of 13: splits progress
        (10 + i, 200, vals[i % 3]) for i in range(39)
    ]
    df = spark.createDataFrame(rows, "_id bigint, cell_id bigint, _v array<double>")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = _split_hot_cells(df, max_cell_rows=2, max_rounds=2)
        out.count()
        msgs = [str(x.message) for x in w if issubclass(x.category, RuntimeWarning)]
    # the measured worst (a 13-row value-group subcell) must be named
    # even though the 6-row cell froze; the frozen warning also fires
    assert any("13 rows" in m for m in msgs), msgs
    assert any("degenerate" in m for m in msgs), msgs


def test_split_hot_cells_warns_when_cap_unmet(spark):
    """Identical embeddings all tie to one sub-centroid, so the cap can
    never be met — the splitter must say so instead of silently leaving
    a quadratic cell (round-3 advice)."""
    import warnings

    from pyspark.sql import functions as F

    from rehiver_spark.operators.vectorops import _split_hot_cells

    df = spark.createDataFrame(
        [(i, 0, [1.0, 0.0]) for i in range(40)], "_id bigint, cell_id bigint, _v array<double>"
    ).withColumn("_v", F.col("_v").cast("array<double>"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = _split_hot_cells(df, max_cell_rows=5, max_rounds=2)
        out.count()  # materialize inside the catch block
        hits = [x for x in w if issubclass(x.category, RuntimeWarning)]
    assert hits and "still holds" in str(hits[0].message)


def test_semantic_contamination_pairs(spark):
    from rehiver_spark.operators.vectorops import semantic_contamination_pairs

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.9, 0.1, 0.0, 0.0]),  # near 1
        ],
        "vec_id bigint, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0, 0.0])],  # a 'paraphrase' of vec 1
        "bench_id bigint, embedding array<float>",
    )
    got = {
        (r["vec_id"], r["bench_id"])
        for r in semantic_contamination_pairs(corpus, bench, threshold=0.9).collect()
    }
    assert got == {(1, 100), (3, 100)}  # orthogonal vec 2 excluded

    plan = semantic_contamination_pairs(corpus, bench, threshold=0.9)\
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # corpus must not shuffle


def test_lsh_paths_tolerate_null_and_zero_vectors(spark):
    """One NULL or zero-norm embedding must not crash the LSH jobs —
    directionless vectors are excluded, everything else still pairs."""
    from rehiver_spark.operators.vectorops import (
        lsh_cosine_neardup,
        lsh_cosine_neardup_portable,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),
        (3, [0.0, 0.0, 0.0]),   # zero norm: no direction
        (4, None),              # null embedding
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in lsh_cosine_neardup(df, dim=3, threshold=0.9).collect()}
    assert got == {(1, 2)}
    gotp = {
        (r["id_a"], r["id_b"])
        for r in lsh_cosine_neardup_portable(df, dim=3, threshold=0.9).collect()
    }
    assert gotp == {(1, 2)}


def lsh_rows(branch, fn, *args, **kwargs):
    """Collect an LSH near-dup operator with its verify forced onto
    ``branch`` ("arrow" = the within-bucket kernel, "expr" = the
    relational join) by patching the Σpop² byte cap; a kernel spy
    asserts the branch really ran."""
    from unittest import mock

    import rehiver_spark.operators.vectorops as vo

    cap = -1 if branch == "arrow" else 1 << 62
    with mock.patch.object(vo, "_LSH_EXPR_VERIFY_MAX_BYTES", cap), mock.patch.object(
        vo, "_lsh_verify_arrow", wraps=vo._lsh_verify_arrow
    ) as kernel:
        rows = fn(*args, **kwargs).collect()
    assert kernel.called == (branch == "arrow"), branch
    return rows


def test_lsh_paths_exclude_ragged_dim_vectors(spark):
    """A vector violating the `dim` contract is excluded up front on
    BOTH verify branches: before round 10 a ragged row crashed the
    batched plane matmul on the arrow path but silently zero-bucketed
    on the expr twin (zip_with NULL-pads) — divergent behavior for the
    same bad input."""
    from rehiver_spark.operators.vectorops import (
        lsh_cosine_neardup,
        lsh_cosine_neardup_portable,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),
        (5, [1.0, 0.0]),               # too short
        (6, [1.0, 0.0, 0.0, 0.0]),     # too long
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for fn in (lsh_cosine_neardup, lsh_cosine_neardup_portable):
        for branch in ("arrow", "expr"):
            got = {
                (r["id_a"], r["id_b"])
                for r in lsh_rows(branch, fn, df, dim=3, threshold=0.9)
            }
            assert got == {(1, 2)}, (fn.__name__, branch)


def test_lsh_verify_arrow_equals_expr(spark, sf_dir):
    """Round-9 scale fix: the within-bucket Arrow verification (taken
    above the Σpop² byte cap — the relational verify materialized pop²
    candidate rows × two dim-sized vectors and died on sf10's hot
    bucket) must equal the relational join bit for bit on the real
    corpus, for both LSH forms."""
    import math

    from rehiver_spark.operators.vectorops import (
        lsh_cosine_neardup,
        lsh_cosine_neardup_portable,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )

    def canon(rows):
        return sorted(
            (r["id_a"], r["id_b"], repr(r["cosine"])) for r in rows
        )

    for fn in (lsh_cosine_neardup, lsh_cosine_neardup_portable):
        a = canon(lsh_rows("arrow", fn, emb, dim=64, threshold=0.4))
        x = canon(lsh_rows("expr", fn, emb, dim=64, threshold=0.4))
        assert a == x and len(a) > 0, fn.__name__


def test_lsh_auto_dispatch_probes_sum_pop2(spark, sf_dir, monkeypatch):
    """The dispatch must take the cheap relational join on a small
    bucket histogram and the within-bucket kernel above the byte
    threshold — and both branches must return identical rows."""
    import rehiver_spark.operators.vectorops as vo

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    calls = []
    real = vo._lsh_verify_arrow

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(vo, "_lsh_verify_arrow", spy)
    key = lambda rows: sorted((r[0], r[1], round(r[2], 9)) for r in rows)  # noqa: E731
    # small histogram → expr branch, kernel never invoked
    auto = key(vo.lsh_cosine_neardup(emb, dim=64, threshold=0.4).collect())
    assert not calls
    # forced-low threshold → the dispatch must pick the kernel, same rows
    monkeypatch.setattr(vo, "_LSH_EXPR_VERIFY_MAX_BYTES", 0)
    auto_arrow = key(vo.lsh_cosine_neardup(emb, dim=64, threshold=0.4).collect())
    assert calls and auto_arrow == auto and len(auto) > 0


def test_lsh_rejects_bad_sizes():
    """dim/n_tables < 1 and an explicit n_planes outside 1..64 raise
    ValueError up front on both LSH forms: zero tables or planes used to
    die deep in the bucketing ("not enough values to unpack"), and from
    plane 64 on ``1 << p`` is 0 in int64, so extra planes silently
    stopped counting. Validation runs before any Spark work."""
    import rehiver_spark.operators.vectorops as vo

    bad = [
        {"dim": 0},
        {"dim": 3, "n_tables": 0},
        {"dim": 3, "n_planes": 0},
        {"dim": 3, "n_planes": 65},
    ]
    for fn in (vo.lsh_cosine_neardup, vo.lsh_cosine_neardup_portable):
        for kw in bad:
            with pytest.raises(ValueError, match="n_planes in 1..64"):
                fn(None, **kw)
    # the edges themselves are valid sizes
    vo._check_lsh_sizes("lsh", 1, 64, 1)
    vo._check_lsh_sizes("lsh", 1, 1, 1)
    vo._check_lsh_sizes("lsh", 1, None, 1)


@pytest.mark.parametrize(
    "module, fn, kwarg",
    [
        ("vectorops", "lsh_cosine_neardup", "impl"),
        ("vectorops", "lsh_cosine_neardup_portable", "impl"),
        ("dedup", "connected_components", "impl"),
        ("dedup", "connected_components", "driver_edge_cap"),
        ("dedup", "jaccard_pairs", "method"),
        ("textops", "charlm_score", "max_model_rows"),
        ("dedup", "minhash_neardup_pairs", "est_gate_margin"),
        ("dedup", "fuzzy_dedup", "est_gate_margin"),
        ("dedup", "simhash_neardup_pairs", "match_blocks"),
        ("dedup", "incremental_minhash_neardup", "broadcast_batch"),
        ("textops", "token_drift", "broadcast_ref"),
        ("importance", "dsir_scores", "persist_features"),
        ("bpe", "learn_bpe", "checkpoint_every"),
        ("bpe", "learn_bpe", "probe_pairs"),
        ("dedup", "minhash_signature", "hash_fn"),
        ("dedup", "minhash_signatures", "hash_fn"),
        ("dedup", "lsh_candidates", "hash_fn"),
        ("dedup", "minhash_neardup_pairs", "hash_fn"),
        ("dedup", "fuzzy_dedup", "hash_fn"),
        ("dedup", "minhash_index", "hash_fn"),
        ("dedup", "incremental_minhash_neardup", "hash_fn"),
    ],
)
def test_removed_path_selectors_raise_type_error(module, fn, kwarg):
    """The caller-set path selectors and plan dials are gone: each
    operator picks its branch and cost settings from the measured input
    only, and passing a removed keyword fails at the call instead of
    being silently honoured."""
    import importlib

    op = getattr(importlib.import_module(f"rehiver_spark.operators.{module}"), fn)
    with pytest.raises(TypeError, match=kwarg):
        op(None, **{kwarg: 1})


def test_lsh_verify_arrow_nan_cosine_survives_like_expr(spark):
    """Spark's comparison semantics treat NaN as greater than any
    numeric, so a NaN cosine (an inf element riding through
    l2_normalize) passes ``>= threshold`` in the expr form and must
    survive the kernel too — as a true NaN, not a NULL (the
    FloatingArray channel)."""
    import math

    from rehiver_spark.operators.vectorops import lsh_cosine_neardup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),
        (3, [float("inf"), 1.0, 0.0]),  # normalizes to [NaN, 0, 0]
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    def tag(c):
        if c is None:
            return "null"
        if math.isnan(c):
            return "nan"
        return round(c, 9)

    out = {}
    for branch in ("arrow", "expr"):
        got = lsh_rows(branch, lsh_cosine_neardup, df, dim=3, threshold=0.9)
        out[branch] = sorted((r["id_a"], r["id_b"], tag(r["cosine"])) for r in got)
    assert out["arrow"] == out["expr"]
    # the near-dup pair survives, and NaN rows (if the buckets collide)
    # are NaN on both paths — never NULL
    assert any(p[:2] == (1, 2) for p in out["arrow"])


def test_adaptive_plane_count_pinned_two_scales():
    """r10 verdict task 1: the adaptive plane count (smallest p with
    2^p·64 ≥ N, clamped [4, 30]) pinned at the scales the driver and
    the sf fixtures actually hit, plus the population invariant —
    E[pop] = N/2^p stays in (32, 64] wherever the clamp isn't active,
    so verify work per bucket is scale-INVARIANT and total verify work
    is linear in N (the fixed-p posture was quadratic)."""
    from rehiver_spark.operators.vectorops import adaptive_plane_count

    assert adaptive_plane_count(600) == 4  # sf0.01 corpus → lo clamp edge
    assert adaptive_plane_count(6000) == 7  # sf0.1 corpus
    assert adaptive_plane_count(600_000) == 14  # sf10: 100× data → +7 planes
    assert adaptive_plane_count(10**11) == 30  # 100 TB-class → hi clamp
    assert adaptive_plane_count(0) == 4
    for n in [5000, 81_234, 10**6, 7 * 10**8]:
        p = adaptive_plane_count(n)
        pop = n / (1 << p)
        assert pop <= 64, (n, p)
        assert p == 4 or pop > 32, (n, p)
    # doubling the corpus adds exactly one plane in the unclamped band
    for n in [10_000, 10**6, 10**8]:
        assert adaptive_plane_count(2 * n) == adaptive_plane_count(n) + 1


def test_lsh_adaptive_population_bounded_two_scales(spark):
    """Measured bucket-population bounds at two corpus scales (8×
    apart): the computed plane count grows by exactly log2(8) = 3, the
    MEAN population stays in the (target/2, target] band at both
    scales, and the top bucket stays within a constant skew factor of
    the mean — i.e. the histogram is scale-invariant, which is the
    whole point of the adaptive posture."""
    import numpy as np

    from rehiver_spark.operators.vectorops import (
        adaptive_plane_count,
        lsh_cosine_neardup,
    )
    import rehiver_spark.operators.vectorops as vo

    rng = np.random.default_rng(7)
    hists = {}
    for n in (2000, 16000):
        vecs = rng.standard_normal((n, 64))
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<double>",
        )
        p = adaptive_plane_count(n)
        planes = [
            vo._hyperplanes(64, p, 42 + 1000 * t) for t in range(4)
        ]
        bkts = vo._plane_buckets_udf(planes, input_dtype="float64")
        pops = (
            df.select(F.posexplode(bkts(vo.l2_normalize("embedding"))))
            .groupBy("pos", "col")
            .count()
            .collect()
        )
        per_table = {}
        for r in pops:
            per_table.setdefault(r["pos"], []).append(r["count"])
        hists[n] = (p, per_table)
    p_small, hist_small = hists[2000]
    p_big, hist_big = hists[16000]
    assert p_big == p_small + 3  # 8× data → exactly 3 more planes
    for n, (p, per_table) in hists.items():
        for t, counts in per_table.items():
            mean = n / (1 << p)  # over ALL 2^p buckets, empty included
            assert 32 < mean <= 64, (n, t, mean)
            # near-isotropic data: top bucket within a constant factor
            # of the mean at BOTH scales (scale-invariant histogram)
            assert max(counts) <= 16 * mean, (n, t, max(counts))


def test_lsh_bucket_split_and_coalesce_equal_unsplit(spark, sf_dir, monkeypatch):
    """The block-pair split of over-cap buckets and the small-bucket
    coalescing are COST dials, not semantics: forcing every bucket to
    split (cap=7, odd block sizes) and squeezing all buckets into 3
    hash groups must both reproduce the unsplit kernel's rows
    bit-for-bit."""
    import rehiver_spark.operators.vectorops as vo

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )

    def canon(rows):
        return sorted((r["id_a"], r["id_b"], repr(r["cosine"])) for r in rows)

    def kernel_rows():
        return canon(
            lsh_rows("arrow", vo.lsh_cosine_neardup, emb, dim=64, threshold=0.4)
        )

    base = kernel_rows()
    assert len(base) > 0
    monkeypatch.setattr(vo, "_LSH_BUCKET_SPLIT_CAP", 7)
    assert kernel_rows() == base
    monkeypatch.setattr(vo, "_LSH_VERIFY_COALESCE_GROUPS", 3)
    assert kernel_rows() == base


def test_lsh_verify_arrow_duplicate_ids_drop_self_pairs_like_expr(spark):
    """r10 advisor (low): the kernel used POSITIONAL upper-triangle
    pairing, so duplicate _id values emitted (id, id) pairs the expr
    twin's id_a < id_b filter drops. The kernel now compares ids (via
    the sorted-bucket group rank) — a duplicated id must yield no
    self-pair on either path, and identical-vector duplicates must
    leave the two paths SET-equal (the expr path's vector join fans
    out duplicate identical rows where the kernel's distinct()
    collapses them — multiplicity under duplicate ids is out of the
    parity contract, self-pairs are in)."""
    from rehiver_spark.operators.vectorops import lsh_cosine_neardup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),  # exact duplicate id + vector
        (2, [1.0, 0.001, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {}
    for branch in ("arrow", "expr"):
        got = lsh_rows(branch, lsh_cosine_neardup, df, dim=3, threshold=0.9)
        out[branch] = {(r["id_a"], r["id_b"], repr(r["cosine"])) for r in got}
    assert out["arrow"] == out["expr"]
    assert all(p[0] != p[1] for p in out["arrow"])
    assert any(p[:2] == (1, 2) for p in out["arrow"])


# ---------------------------------------------------------------------------
# X50 — Johnson–Lindenstrauss projection
# ---------------------------------------------------------------------------


def test_jl_preserves_pairwise_distances(spark):
    """The JL guarantee, measured: for random 64-d vectors projected to
    16-d, squared pairwise distances are preserved in expectation and
    the median distortion stays well inside the sqrt(ln n / k)
    envelope. (Statistical, seeded, deterministic.)"""
    import itertools
    import random

    from rehiver_spark.operators.vectorops import jl_project

    rng = random.Random(3)
    vecs = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(30)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["proj"] for r in jl_project(df, dim=64, out_dim=16).collect()}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ratios = []
    for i, j in itertools.combinations(range(30), 2):
        orig = d2(vecs[i], vecs[j])
        proj = d2(got[i], got[j])
        ratios.append(proj / orig)
    ratios.sort()
    med = ratios[len(ratios) // 2]
    # unbiased in expectation; median within ±35% at k=16, and no
    # catastrophic collapse of any pair
    assert 0.65 < med < 1.35, med
    assert ratios[0] > 0.15 and ratios[-1] < 3.5, (ratios[0], ratios[-1])


def test_jl_project_is_map_only_and_portable(spark):
    import duckdb

    from rehiver_spark.operators.vectorops import jl_project, jl_project_sql

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    out = jl_project(df, dim=64, out_dim=8)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    sp = sorted((r["vec_id"], tuple(r["proj"])) for r in out.collect())
    con = duckdb.connect()
    dd = sorted(
        (i, tuple(v))
        for i, v in con.sql(
            f"SELECT vec_id, {jl_project_sql('embedding', 64, 8)} FROM "
            "'/root/testdata/sf0.001/embeddings.parquet' "
            "WHERE vec_id IN (SELECT vec_id FROM "
            "'/root/testdata/sf0.001/embeddings.parquet' ORDER BY vec_id LIMIT 50)"
        ).fetchall()
    )
    # limit(50) on an unordered read: compare on the id intersection
    sp_ids = {i for i, _ in sp}
    dd = [t for t in dd if t[0] in sp_ids]
    assert sp == dd


# ---------------------------------------------------------------------------
# X51 — distributed quantized k-means
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("k", [6, 8])
def test_kmeans_quantized_matches_pure_python_reference_exactly(spark, k):
    """The distributed 3-iteration Lloyd's loop must equal a
    pure-Python implementation with identical integer semantics
    (grid quantization, away-from-zero mean rounding, cell-id
    tie-breaks) on the real embeddings table — sizes, inertia, and
    every centroid coordinate."""
    import math

    import duckdb

    from rehiver_spark.functions.hashing import md5_hash60_py
    from rehiver_spark.operators.vectorops import kmeans_quantized

    rows = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        "'/root/testdata/sf0.001/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()

    def rnd(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    Q = {i: [rnd(x * 10000) for x in v] for i, v in rows}
    order = sorted(Q, key=lambda i: (md5_hash60_py(f"km:{i}"), i))
    cents = {c: Q[order[c]] for c in range(k)}
    assign = {}
    for _ in range(3):
        for i, q in Q.items():
            assign[i] = min(
                (sum((a - b) ** 2 for a, b in zip(q, cents[c])), c) for c in cents
            )
        nxt = {}
        for c in cents:
            mem = [Q[i] for i in Q if assign[i][1] == c]
            if mem:
                nxt[c] = [rnd(sum(col) / len(mem)) for col in zip(*mem)]
        cents = nxt
    ref = {
        c: (
            sum(1 for i in Q if assign[i][1] == c),
            round(sum(assign[i][0] for i in Q if assign[i][1] == c) / 1e8, 4),
            cents[c],
        )
        for c in cents
    }
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r["cell"]: (r["n_members"], r["inertia"], list(r["c"]))
        for r in kmeans_quantized(df, dim=64, k=k, n_iter=3).collect()
    }
    assert got == ref


def test_kmeans_centroids_never_collected(spark):
    """No driver-materialized relation — the loop is DataFrame-only
    end to end. (``Scan ExistingRDD`` is expected: it is the
    executor-side localCheckpoint of the k-row centroid relation, not a
    collect; a collect-and-recreate would surface as LocalTableScan.)
    The only Python is the vectorized distance kernel."""
    from rehiver_spark.operators.vectorops import kmeans_quantized

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pa = (
        kmeans_quantized(df, dim=64, k=4, n_iter=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" not in pa and "BatchEvalPython" not in pa


def test_ivf_with_full_probe_equals_brute_force(spark):
    """X53's underlying invariant: probing every cell makes IVF
    exactly the brute-force ranking (recall@k == 1 for all queries)."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.vectorops import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(qs, emb, k=5).collect()
    }
    iv = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(qs, emb, k=5, n_cells=8, n_probe=8).collect()
    }
    assert iv == bf


def test_ann_recall_query_reports_honest_partial_probe_recall(spark):
    """With n_probe < n_cells the recall must be high but is NOT
    expected to be 1.0 — the audit metric reports the truth."""
    from pyspark.sql import functions as F

    from rehiver_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["x53_ann_recall"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "no queries scored"
    mean = sum(r["recall_at_5"] for r in rows) / len(rows)
    assert 0.4 <= mean <= 1.0, mean


def test_jl_and_kmeans_tolerate_null_vectors(spark):
    """Regression: a NULL (or wrong-dim) embedding must not crash the
    Arrow kernels — JL projects it to NULL, k-means excludes it from
    clustering (visible via member counts)."""
    from rehiver_spark.operators.vectorops import jl_project, kmeans_quantized

    good = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(30)
    bad = spark.createDataFrame(
        [(9001, None), (9002, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    df = good.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(bad)
    rows = {r["vec_id"]: r["proj"] for r in jl_project(df, 64, 8).collect()}
    assert rows[9001] is None and rows[9002] is None
    assert all(v is not None for k, v in rows.items() if k < 9000)
    km = kmeans_quantized(df, dim=64, k=4, n_iter=2)
    assert sum(r["n_members"] for r in km.collect()) == 30


def test_jl_and_kmeans_tolerate_element_nulls(spark):
    """Regression (round-5 review): a vector with a NULL ELEMENT must
    project to NULL (Arrow delivers element nulls as NaN, which turned
    the int64 cast into garbage in the kernel), and k-means must
    exclude it."""
    from rehiver_spark.operators.vectorops import jl_project, kmeans_quantized

    good = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    holed = spark.createDataFrame(
        [(9005, [0.5] * 30 + [None] + [0.5] * 33)],
        "vec_id long, embedding array<double>",
    )
    df = good.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(holed)
    rows = {r["vec_id"]: r["proj"] for r in jl_project(df, 64, 8).collect()}
    assert rows[9005] is None
    km = kmeans_quantized(df, dim=64, k=4, n_iter=2)
    assert sum(r["n_members"] for r in km.collect()) == 20


def test_jl_and_kmeans_reject_bad_sizes(spark):
    """Non-positive sizes fail up front with a ValueError instead of an
    all-NULL projection (out_dim=0), a ``np.vstack`` error (k=0) or an
    ``AttributeError`` on the never-assigned loop result (n_iter=0)."""
    from rehiver_spark.operators.vectorops import jl_project, kmeans_quantized

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for kw in ({"out_dim": 0}, {"dim": 0}, {"scale": 0}):
        with pytest.raises(ValueError, match="jl_project"):
            jl_project(df, **{"dim": 64, **kw})
    for kw in ({"k": 0}, {"n_iter": 0}, {"dim": -1}, {"scale": 0}):
        with pytest.raises(ValueError, match="kmeans_quantized"):
            kmeans_quantized(df, **{"dim": 64, **kw})


def test_plane_buckets_int64_blas_path_bit_equal(spark):
    """The r12 BLAS dispatch inside _plane_buckets_udf is exactness-
    guarded: batches whose dim·max|q| clears 2^52 run the float64
    dgemm, anything larger keeps the exact int64 loop — and BOTH must
    reproduce the pure-Python sign computation bit-for-bit (huge
    magnitudes near int64 range included)."""
    import numpy as np

    import rehiver_spark.operators.vectorops as vo
    from rehiver_spark.functions.hashing import rademacher_planes

    dim, n_planes = 8, 6
    planes = [rademacher_planes(dim, n_planes, 42 + 1000 * t) for t in range(2)]
    udf = vo._plane_buckets_udf(planes, input_dtype="int64")

    rng = np.random.default_rng(3)
    small = rng.integers(-20000, 20000, size=(50, dim), dtype=np.int64)
    big = rng.integers(-(1 << 52), 1 << 52, size=(50, dim), dtype=np.int64)

    def reference(q):
        out = []
        for row in q:
            per_table = []
            for tbl in planes:
                b = 0
                for p_i, plane in enumerate(tbl):
                    d = sum(int(x) * w for x, w in zip(row, plane))
                    if d > 0:
                        b |= 1 << p_i
                per_table.append(b)
            out.append(per_table)
        return out

    for q in (small, big):
        df = spark.createDataFrame(
            [(i, [int(x) for x in row]) for i, row in enumerate(q)],
            "vec_id bigint, q array<bigint>",
        )
        got = {
            r["vec_id"]: list(r["b"]) for r in df.select("vec_id", udf("q").alias("b")).collect()
        }
        ref = reference(q)
        assert [got[i] for i in range(len(q))] == ref


def test_plane_buckets_int64_min_overflow_is_loud(spark):
    """r12 ADVICE: np.abs(INT64_MIN) wraps negative, so the old
    abs()-based exactness guard let an INT64_MIN batch take the
    inexact float64 path silently; the raw-extremes guard must instead
    raise (the int64 loop would ALSO overflow at that magnitude)."""
    import pytest as _pytest

    import rehiver_spark.operators.vectorops as vo
    from rehiver_spark.functions.hashing import rademacher_planes

    dim, n_planes = 8, 6
    planes = [rademacher_planes(dim, n_planes, 42)]
    udf = vo._plane_buckets_udf(planes, input_dtype="int64")
    df = spark.createDataFrame(
        [(0, [-(1 << 63)] * dim)], "vec_id bigint, q array<bigint>"
    )
    with _pytest.raises(Exception, match="overflow int64"):
        df.select(udf("q").alias("b")).collect()
