import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_exact_dedup_marks_normalized_dups(spark):
    from rehiver_spark.operators.dedup import dedup_exact, exact_dedup

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: (r["is_keeper"], r["dup_count"]) for r in exact_dedup(df).collect()}
    assert out == {1: (True, 2), 2: (False, 2), 3: (True, 1)}
    assert sorted(r["doc_id"] for r in dedup_exact(df).collect()) == [1, 3]


def test_shingles_short_and_normal(spark):
    from rehiver_spark.operators.dedup import shingles

    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = [r[0] for r in df.select(shingles("text", 3)).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == ["a b"]  # shorter than k → whole text


def _py_jaccard_pairs(rows, threshold, max_shingle_freq=None):
    """All-pairs exact Jaccard over shingle sets in pure Python:
    {(id_a, id_b): (n_common, n_a, n_b, jaccard)}. A hot filter drops
    shingles held by more than ``max_shingle_freq`` docs BEFORE the
    sets are sized, as ``jaccard_pairs`` defines it."""
    from collections import Counter
    from itertools import combinations

    sets = {i: set(sh) for i, sh in rows}
    if max_shingle_freq is not None:
        freq = Counter(s for sh in sets.values() for s in sh)
        sets = {i: {s for s in sh if freq[s] <= max_shingle_freq} for i, sh in sets.items()}
    out = {}
    for a, b in combinations(sorted(sets), 2):
        n = len(sets[a] & sets[b])
        na, nb = len(sets[a]), len(sets[b])
        if n and n / (na + nb - n) >= threshold:
            out[(a, b)] = (n, na, nb, round(n / (na + nb - n), 9))
    return out


def _pair_rows(pairs_df):
    return {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"], round(r["jaccard"], 9))
        for r in pairs_df.collect()
    }


def _exact_pairs_duckdb(sf_dir, threshold):
    import duckdb

    return {
        (a, b): round(j, 6)
        for a, b, j in duckdb.sql(
            f"""
            WITH t AS (
              SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ') FOR i IN range(1, greatest(len(toks)-2,1)+1)]) sh
              FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),'\\s+'), x -> x <> '') toks
                    FROM '{sf_dir}/documents.parquet')
            )
            SELECT a.doc_id, b.doc_id,
                   len(list_intersect(a.sh,b.sh))::DOUBLE/(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) j
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh,b.sh))::DOUBLE/(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) >= {threshold}
            """
        ).fetchall()
    }


def test_jaccard_pairs_exact_vs_duckdb(docs, sf_dir):
    from rehiver_spark.operators.dedup import jaccard_pairs, shingles

    sh = docs.select("doc_id", shingles("text", 3).alias("shingles"))
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in jaccard_pairs(sh, threshold=0.8).collect()
    }
    exp = _exact_pairs_duckdb(sf_dir, 0.8)
    assert got == exp
    assert len(got) > 0  # planted near-dups exist


def test_jaccard_plan_has_no_cartesian(docs):
    from rehiver_spark.operators.dedup import jaccard_pairs, shingles

    sh = docs.select("doc_id", shingles("text", 3).alias("shingles"))
    plan = jaccard_pairs(sh, threshold=0.8)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_subset_and_recall(docs, sf_dir):
    from rehiver_spark.operators.dedup import minhash_neardup_pairs

    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in minhash_neardup_pairs(docs, threshold=0.8).collect()
    }
    exp = _exact_pairs_duckdb(sf_dir, 0.8)
    # exact-verified: every returned pair is a true pair with true score
    for k, v in got.items():
        assert k in exp and abs(v - exp[k]) < 1e-6
    # recall on planted ~0.99-jaccard dups should be total at b=8,r=4
    assert len(got) >= 0.9 * len(exp)


def test_minhash_est_gate_subset_and_equality(docs):
    """The r12 estimate pre-filter is recall-safe: the gated pair set
    is a subset of the exact all-pairs answer with exact scores (the
    gate only ever removes candidates)."""
    from rehiver_spark.operators.dedup import minhash_neardup_pairs, shingles

    rows = [
        (r["doc_id"], r["sh"])
        for r in docs.select("doc_id", shingles("text", 3).alias("sh")).collect()
    ]
    exact = {k: v[3] for k, v in _py_jaccard_pairs(rows, 0.8).items()}
    gated = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_neardup_pairs(docs, threshold=0.8).collect()
    }
    assert set(gated) <= set(exact)
    assert all(gated[k] == exact[k] for k in gated)
    assert len(gated) >= 0.9 * len(exact) > 0


def md5_minhash_reference(sh, num_hashes, seed):
    """Pure-Python md5 affine mins per ``doc_id`` of ``sh`` (doc_id,
    _sh): the portable sketch from ``md5_hash60_py`` and the affine
    constants. A NULL shingle array has no signature (None)."""
    from rehiver_spark.functions.hashing import md5_hash60_py
    from rehiver_spark.operators.dedup import minhash_affine_consts

    p = 2147483647
    a_co, c_co = minhash_affine_consts(num_hashes, seed)
    return {
        r.doc_id: None if r._sh is None else [
            min((md5_hash60_py(f"{seed}:{x}") % (1 << 30) * a + c) % p for x in r._sh)
            for a, c in zip(a_co, c_co)
        ]
        for r in sh.collect()
    }


def minhash_rows(sh, num_hashes, seed):
    """``doc_id`` -> :func:`minhash_signature` of ``sh`` (doc_id, _sh)."""
    from rehiver_spark.operators.dedup import minhash_signature

    return {
        r.doc_id: r.sig
        for r in sh.select(
            "doc_id", minhash_signature("_sh", num_hashes, seed).alias("sig")
        ).collect()
    }


def test_minhash_relational_matches_column_form(spark):
    """The map-only SQL-expression signature must equal a pure-Python
    reference built from ``md5_hash60_py`` and the affine constants —
    the sketch is oracle-checked downstream, so even one differing
    component would break x7p/x29/x34 hash parity. A NULL text has no
    signature."""
    from rehiver_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with other words here"),
            (4, ""),  # shingles() guarantees [""] — must not vanish
            (5, None),
            (6, "naïve café über straße 東京 の テキスト"),
        ],
        "doc_id bigint, text string",
    )
    sh = df.select("doc_id", shingles("text", 3).alias("_sh"))
    got = minhash_rows(sh, 16, 42)
    assert got == md5_minhash_reference(sh, 16, 42)
    assert got[5] is None and all(len(got[i]) == 16 for i in (1, 2, 3, 4, 6))


def test_sketch_builders_take_column_names_only(spark):
    """The sketch builders render one SQL string each, so a Column
    argument (accepted before they did) raises TypeError instead of
    being spliced into SQL text."""
    from rehiver_spark.operators.dedup import (
        _band_keys,
        minhash_signature,
        sig_est_jaccard,
    )

    for build in (
        lambda: minhash_signature(F.col("_sh")),
        lambda: _band_keys(F.col("sig"), 32, 8),
        lambda: sig_est_jaccard(F.col("a"), "b", 32),
        lambda: sig_est_jaccard("a", F.col("b"), 32),
    ):
        with pytest.raises(TypeError, match="column name"):
            build()
    # names are backquoted: odd characters and backticks resolve
    df = spark.createDataFrame([([1, 2, 3, 4], [1, 2, 0, 4])], "`s g` array<bigint>, `b``q` array<bigint>")
    assert df.select(sig_est_jaccard("s g", "b`q", 4)).first()[0] == 0.75


def test_minhash_neardup_plan_build_gateway_budget(spark):
    """Building (not running) the near-dup plan costs a bounded number
    of py4j round trips: the sketch expressions are one SQL string each.
    Built node by node over the Column API the same plan made ~2,880.
    Object-release commands are not counted — py4j's finalizer thread
    sends them later, in batches that vary run to run."""
    from unittest import mock

    from rehiver_spark.operators.dedup import minhash_neardup_pairs

    df = spark.createDataFrame(
        [(i, f"doc {i} shared words for the sketch") for i in range(20)],
        "doc_id bigint, text string",
    )
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    with mock.patch.object(client, "send_command", counting):
        minhash_neardup_pairs(df, threshold=0.8)
    # shingles, tokens and the shingle ids are one SQL string each too;
    # built through the Column API the tokenizer alone made 77 calls
    assert 0 < len(sent) <= 400, len(sent)


def test_minhash_neardup_int_id_counts_equal_string_sets(spark):
    """The verify join intersects cached int64 shingle ids, yet
    ``n_common``/``n_a``/``n_b`` and ``jaccard`` equal the counts over
    the STRING shingle sets (pure Python over :func:`shingles`), on a
    corpus with tab/newline-separated, multibyte and short rows."""
    from rehiver_spark.operators.dedup import minhash_neardup_pairs, shingles

    base = "the quick brown fox jumps over the lazy dog and runs far away now"
    mb = "naïve café über straße 東京 の テキスト with 𝄞 and more words here"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace(" ", "\t", 3) + " too"),
            (3, base.replace("lazy", "idle")),
            (4, mb),
            (5, mb.replace(" ", "\n", 2)),
            (6, mb + " extra"),
            (7, "two words"),
            (8, "Two  Words"),
            (9, ""),
            (10, None),
            (11, "something else entirely about spark plans and joins today"),
        ],
        "doc_id bigint, text string",
    )
    rows = [
        (r.doc_id, r.sh)
        for r in df.select("doc_id", shingles("text", 3).alias("sh")).collect()
        if r.sh is not None
    ]
    exact = _py_jaccard_pairs(rows, 0.5)
    got = _pair_rows(minhash_neardup_pairs(df, threshold=0.5))
    assert got and set(got) <= set(exact)
    assert all(got[k] == exact[k] for k in got), (got, exact)


def test_simhash_neardup_pairs(spark):
    from rehiver_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame(
        [
            (1, "spark query engine fast scan join window batch"),
            (2, "spark query engine fast scan join window batch extra"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_neardup_pairs(df, max_hamming=16).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_match_blocks_equivalence(spark, monkeypatch):
    """k-of-c blocking is LOSSLESS at every k: the k=1 single-chunk
    pigeonhole, k=2, and k=3 forms must return the exact same pair set
    (the r11 scale lever — k widens the join key, never the answer).
    k comes from ``adaptive_match_blocks``, patched here to each value."""
    from rehiver_spark.operators import dedup

    rows = [
        (i, f"spark query engine fast scan join window batch doc{i % 7}")
        for i in range(40)
    ] + [(100, "completely different words entirely unrelated content")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    outs = []
    for k in (1, 2, 3):
        monkeypatch.setattr(dedup, "adaptive_match_blocks", lambda n, h, bits, k=k: k)
        for hash_fn in ("xxhash64", "md5"):
            got = {
                (r["id_a"], r["id_b"], r["hamming"])
                for r in dedup.simhash_neardup_pairs(
                    df, max_hamming=3, hash_fn=hash_fn
                ).collect()
            }
            outs.append((k, hash_fn, got))
    base = {(hf): g for k, hf, g in outs if k == 1}
    for k, hf, got in outs:
        assert got == base[hf], (k, hf)
    assert all(len(g) > 0 for _, _, g in outs)


def test_adaptive_match_blocks_dial():
    """Pure-integer k dial: k=1 up to corpora the single-chunk key can
    absorb, +1 per ~sig_bits/(h+k) bits of corpus growth, clamped."""
    from rehiver_spark.operators.dedup import adaptive_match_blocks

    # h=3, xxhash64 (64-bit): 16-bit keys absorb up to 2^13 docs
    assert adaptive_match_blocks(625, 3, 64) == 1
    assert adaptive_match_blocks(6_250, 3, 64) == 1
    assert adaptive_match_blocks(625_000, 3, 64) == 2  # sf10 (measured)
    assert adaptive_match_blocks(50_000_000, 3, 64) == 3
    # md5: only 60 live bits -> k=1 keys are 15-bit; sf0.1's 6,250-doc
    # corpus sits exactly at the 15-bit boundary and stays k=1
    # (slack_bits=2 — measured: k=2 cost +1.1 s at sf0.1 for nothing,
    # while sf10 flips to k=2 either way)
    assert adaptive_match_blocks(625, 3, 60) == 1
    assert adaptive_match_blocks(6_250, 3, 60) == 1
    assert adaptive_match_blocks(625_000, 3, 60) == 2
    # clamp
    assert adaptive_match_blocks(1 << 62, 3, 64) == 5
    assert adaptive_match_blocks(0, 3, 64) == 1


def test_simhash_signatures_matches_column_form(spark):
    from pyspark.sql import functions as F

    from rehiver_spark.operators.dedup import simhash, simhash_signatures

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "totally different words"), (4, "")],
        "doc_id bigint, text string",
    )
    rel = simhash_signatures(df)
    col = df.select("doc_id", simhash("text").alias("sig"))
    joined = rel.join(col.withColumnRenamed("sig", "sig_col"), "doc_id")
    assert joined.filter(F.col("sig") != F.col("sig_col")).count() == 0
    rows = {r["doc_id"]: r["sig"] for r in rel.collect()}
    assert rows[1] == rows[2] and rows[1] != rows[3] and rows[4] == 0


def test_simhash_signatures_tie_bits_match_column_form(spark):
    """r13 internals change: the relational form now sets bit b iff
    2·ones_b > n (popcount identity) instead of summing ±1 per token.
    The decision boundary is the TIE (ones == zeros): a 2-token doc
    ties on every bit where the two token hashes differ, so pin that
    regime explicitly against the Column fold's sum>0 semantics."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.dedup import simhash, simhash_signatures

    # two distinct tokens → their xxhash64 values differ in >=1 bit,
    # and every differing bit is an exact tie (ones_b == 1 == n/2)
    h = spark.createDataFrame([("alpha",), ("omega",)], "t string").select(
        F.xxhash64(F.lit(42), F.col("t")).alias("h")
    )
    ha, hb = [r["h"] for r in h.collect()]
    assert ha != hb, "fixture must exercise tie bits"
    df = spark.createDataFrame(
        [
            (1, "alpha omega"),  # 2 tokens: every differing bit ties
            (2, "alpha alpha omega"),  # odd multiset: no ties possible
            (3, "alpha omega alpha omega"),  # duplicated multiset, same ties
        ],
        "doc_id bigint, text string",
    )
    rel = {r["doc_id"]: r["sig"] for r in simhash_signatures(df).collect()}
    col = {
        r["doc_id"]: r["sig"]
        for r in df.select("doc_id", simhash("text").alias("sig")).collect()
    }
    assert rel == col
    # tie bits resolve to 0: the 2-token sig keeps only the AND of the
    # two hashes' set bits (ones_b == 2 strictly beats n == 2)
    assert rel[1] == ha & hb
    assert rel[3] == rel[1]  # doubling the multiset doubles ones and n


def test_jaccard_pairs_equal_python_all_pairs(spark):
    from rehiver_spark.operators.dedup import jaccard_pairs, shingles

    texts = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "a b c d e f g h"),
        (4, "q r s t u v w z"),
        (5, "q r s t u v w z extra tail"),
        (6, "completely unrelated words here now"),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    sh = df.select("doc_id", shingles("text", 3).alias("shingles"))
    rows = [(r["doc_id"], r["shingles"]) for r in sh.collect()]
    for t in (0.5, 0.8):
        got = _pair_rows(jaccard_pairs(sh, threshold=t))
        want = _py_jaccard_pairs(rows, t)
        assert got == want and got, f"threshold {t}: got={got} want={want}"


def test_connected_components_transitive_chain(spark):
    from rehiver_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        (r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_empty_pairs(spark):
    from rehiver_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_connected_components_long_chain_converges(spark):
    """A 300-node path graph converges in O(log n) rounds via pointer
    jumping — plain neighbor propagation would need 300 rounds."""
    from rehiver_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    got = connected_components(pairs, max_iter=25).collect()
    assert len(got) == 301
    assert {r.cluster_id for r in got} == {0}


def on_cc_branch(branch, run):
    """Return ``run()`` with connected components' driver cap patched
    so ``branch`` ("driver" | "distributed") runs — -1 admits not even
    an empty graph. The operator's own INFO line and a spy on the
    driver solve prove the branch. Hypothesis-safe (no function-scoped
    fixture)."""
    import logging
    from unittest import mock

    from rehiver_spark.operators import dedup

    cap = 1 << 62 if branch == "driver" else -1
    log = logging.getLogger(dedup.__name__)
    with mock.patch.object(
        dedup, "_cc_driver_cap", lambda avg_id_chars: cap
    ), mock.patch.object(log, "info") as info, mock.patch.object(
        dedup, "_cc_driver", wraps=dedup._cc_driver
    ) as solve:
        out = run()
    assert info.call_args.args[-1] == branch, info.call_args
    assert solve.called == (branch == "driver"), branch
    return out


def cc_rows(branch, pairs):
    """The (doc_id, cluster_id) set of connected_components on
    ``branch`` (see :func:`on_cc_branch`)."""
    from rehiver_spark.operators.dedup import connected_components

    rows = on_cc_branch(branch, lambda: [
        (r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()
    ])
    assert len(rows) == len(set(rows)), branch  # one row per node
    return set(rows)


def test_connected_components_driver_matches_distributed(spark):
    """The round-10 driver branch (vectorized min-label over Arrow-
    collected edges) reaches the identical fixpoint as the distributed
    loop on a random multi-component graph — the dispatch is a cost
    dial, never a semantics change."""
    import random

    rng = random.Random(1031)
    edges = []
    for base in range(0, 500, 50):  # 10 blocks of 50 node ids
        nodes = list(range(base, base + 50))
        for _ in range(40):  # sparse: some blocks fragment further
            edges.append((rng.choice(nodes), rng.choice(nodes)))
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv = cc_rows("driver", pairs)
    assert drv == cc_rows("distributed", pairs) and drv


def test_connected_components_driver_string_ids(spark):
    """String ids: numpy unicode sort order matches Spark's min() on
    binary-collated strings, so the driver branch labels identically."""
    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("zz", "yy")],
        "id_a string, id_b string",
    )
    got = cc_rows("driver", pairs)
    assert got == {
        ("doc-a", "doc-a"), ("doc-b", "doc-a"), ("doc-c", "doc-a"),
        ("yy", "yy"), ("zz", "yy"),
    }


def test_connected_components_auto_cap_dispatch(spark, monkeypatch, caplog):
    """At or below the edge cap the driver branch runs; above it the
    distributed loop does. Both answers are equal either way."""
    import logging

    from rehiver_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    # 3 pairs bound the symmetrized graph at 6 directed edges; cap 3 ->
    # 6 ≤ 6, cap 2 -> 4 < 6
    for edge_cap, branch in ((3, "driver"), (2, "distributed")):
        monkeypatch.setattr(dedup, "_CC_DRIVER_EDGE_CAP", edge_cap)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=dedup.__name__):
            got = {
                (r.doc_id, r.cluster_id)
                for r in dedup.connected_components(pairs).collect()
            }
        assert got == want, branch
        line = f"3 pairs, at most 6 directed edges (cap {2 * edge_cap}) -> {branch}"
        assert any(m.endswith(line) for m in caplog.messages), caplog.messages


def test_connected_components_null_ids_dropped_both_branches(spark):
    """A NULL id in the pair list is dropped up front (r10 advice):
    before the fix the driver branch crashed in np.unique while the
    distributed branch silently ignored the edge — behavior diverged
    across the dispatch boundary by graph size."""
    pairs = spark.createDataFrame(
        [("b", "a"), (None, "c"), ("d", None), ("e", "f")],
        "id_a string, id_b string",
    )
    want = {("a", "a"), ("b", "a"), ("e", "e"), ("f", "e")}
    for branch in ("driver", "distributed"):
        assert cc_rows(branch, pairs) == want, branch


def test_connected_components_duplicate_reversed_selfloop_pairs(spark):
    """The driver branch symmetrizes the raw pair list in numpy, with
    no distinct: duplicate pairs, both orientations of one pair and
    self-loops must label exactly as the distributed branch's
    union + distinct graph does, for int and string ids."""
    rows = [
        (1, 2), (1, 2), (2, 1),  # duplicate + reversed
        (3, 3),  # self-loop: a component of one
        (4, 5), (5, 4), (5, 5), (6, 5),
    ]
    want = {(1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (6, 4)}
    for schema, key in (("id_a long, id_b long", int), ("id_a string, id_b string", str)):
        pairs = spark.createDataFrame([(key(a), key(b)) for a, b in rows], schema)
        drv = cc_rows("driver", pairs)
        assert drv == cc_rows("distributed", pairs), schema
        assert drv == {(key(a), key(b)) for a, b in want}, schema


def test_connected_components_byte_aware_cap(spark, monkeypatch, caplog):
    """String ids scale the row cap down by probed id width:
    wide string ids must push a graph that row-counts under the cap
    onto the distributed branch (the 16 B/row driver-memory rationale
    assumes int64 ids — r10 advice)."""
    import logging

    from rehiver_spark.operators import dedup

    wide = "x" * 200  # 2*200+16 bytes/row vs int64's 16 -> cap/27
    pairs = spark.createDataFrame(
        [(wide + "1", wide + "2"), (wide + "2", wide + "3")],
        "id_a string, id_b string",
    )
    # 2 pairs -> at most 4 directed edges. An edge cap of 2 would
    # admit 4 rows for int64 ids, but the observed id width shrinks it
    # below 4, so this must take (and succeed on) the distributed branch.
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGE_CAP", 2)
    with caplog.at_level(logging.INFO, logger="rehiver_spark.operators.dedup"):
        got = {
            (r.doc_id, r.cluster_id)
            for r in dedup.connected_components(pairs).collect()
        }
    assert any("-> distributed" in m for m in caplog.messages)
    assert got == {
        (wide + "1", wide + "1"),
        (wide + "2", wide + "1"),
        (wide + "3", wide + "1"),
    }


def test_lsh_verify_branch_is_logged(spark, monkeypatch, caplog):
    """Callers cannot pick the LSH verify branch, so the dispatch logs
    it in the shape of the connected_components line: Σpop², the
    estimated join bytes (Σpop² × (2·dim·8 + 48)), the cap and the
    branch — on both sides of the cap, with the same rows."""
    import logging
    import re

    import rehiver_spark.operators.vectorops as vo

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.001, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    for cap, branch in ((1 << 62, "expr"), (-1, "arrow")):
        monkeypatch.setattr(vo, "_LSH_EXPR_VERIFY_MAX_BYTES", cap)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=vo.__name__):
            got = vo.lsh_cosine_neardup(df, dim=3, threshold=0.9).collect()
        assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}, branch
        pat = rf"lsh verify: sum pop\^2 (\d+), est (\d+) bytes \(cap {cap}\) -> {branch}"
        hits = [m for m in map(re.compile(pat).fullmatch, caplog.messages) if m]
        assert len(hits) == 1, caplog.messages
        sum_pop2, est = map(int, hits[0].groups())
        assert sum_pop2 >= 3 * 4 and est == sum_pop2 * (2 * 3 * 8 + 48)


def test_incremental_exact_dedup_statuses(spark):
    from rehiver_spark.operators.dedup import (
        dedup_index,
        incremental_exact_dedup,
        index_update,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id bigint, text string"
    )
    idx = dedup_index(corpus)
    batch = spark.createDataFrame(
        [
            (10, "Alpha  Doc"),   # normalizes to corpus text 1 -> dup_corpus
            (11, "gamma doc"),    # first occurrence -> new
            (12, "GAMMA DOC "),   # same normalized hash as 11 -> dup_batch
            (13, "delta doc"),    # new
        ],
        "doc_id bigint, text string",
    )
    out = incremental_exact_dedup(batch, idx)
    got = {r["doc_id"]: r["status"] for r in out.collect()}
    assert got == {10: "dup_corpus", 11: "new", 12: "dup_batch", 13: "new"}

    # ingest the accepted rows; a replayed batch is now all dup_corpus
    idx2 = index_update(idx, out)
    assert idx2.count() == 4
    replay = incremental_exact_dedup(batch, idx2)
    assert {r["status"] for r in replay.collect()} == {"dup_corpus"}


def test_incremental_dedup_no_corpus_text_scan(spark):
    """The plan must touch only the index's hash column, never a corpus
    text column — the point of incremental dedup at 100 TB."""
    from rehiver_spark.operators.dedup import dedup_index, incremental_exact_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha doc", "HUGE_PAYLOAD")], "doc_id bigint, text string, payload string"
    )
    idx = dedup_index(corpus).localCheckpoint()  # materialized index, corpus out of lineage
    batch = spark.createDataFrame([(10, "alpha doc")], "doc_id bigint, text string")
    plan = incremental_exact_dedup(batch, idx)._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan


def test_fuzzy_dedup_end_to_end(spark):
    from rehiver_spark.operators.dedup import fuzzy_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base), (4, base), (3, "a completely different document about spark")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in fuzzy_dedup(df).collect()}
    assert out[1]["cluster_id"] == 1 and out[1]["is_keeper"] and out[1]["cluster_size"] == 3
    assert out[2]["cluster_id"] == 1 and not out[2]["is_keeper"]
    assert out[4]["cluster_id"] == 1 and not out[4]["is_keeper"]
    assert out[3]["cluster_id"] == 3 and out[3]["is_keeper"] and out[3]["cluster_size"] == 1
    # exactly one keeper per cluster, corpus row count preserved
    assert len(out) == 4


def test_fuzzy_dedup_keep_longest(spark):
    from rehiver_spark.operators.dedup import fuzzy_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra tail tokens here"),  # longest in cluster {1,2}
            (3, "a completely different document about spark"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in fuzzy_dedup(df, threshold=0.5, keep="longest").collect()}
    assert out[1]["cluster_id"] == 1 and not out[1]["is_keeper"]
    assert out[2]["cluster_id"] == 1 and out[2]["is_keeper"]  # longest wins
    assert out[3]["is_keeper"] and out[3]["cluster_size"] == 1

    with pytest.raises(ValueError):
        fuzzy_dedup(df, keep="newest")


def fuzzy_rows(branch, df):
    """``fuzzy_dedup`` rows by id on connected-components ``branch``
    (see :func:`on_cc_branch`)."""
    from rehiver_spark.operators.dedup import fuzzy_dedup

    return on_cc_branch(branch, lambda: {
        r["doc_id"]: r for r in fuzzy_dedup(df, threshold=0.5).collect()
    })


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_fuzzy_dedup_cluster_size_is_group_count_on_both_branches(spark, id_type):
    """The driver solve hands ``cluster_size`` back with its labels; on
    either branch it equals a groupBy count of ``cluster_id`` over the
    output, and both branches label identically — string ids and a
    corpus with no near-dup pair included."""
    from collections import Counter

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "a completely different document about spark plans and joins"
    texts = [base, base + " ok", other, base, "unrelated words here", other + " yes", None]
    cast = str if id_type == "string" else int
    schema = f"doc_id {id_type}, text string"
    df = spark.createDataFrame([(cast(i), t) for i, t in enumerate(texts)], schema)
    lonely = spark.createDataFrame(
        [(cast(i), t) for i, t in enumerate(["one doc", "another text", "third one here"])],
        schema,
    )
    for corpus in (df, lonely):
        both = [fuzzy_rows(branch, corpus) for branch in ("driver", "distributed")]
        assert {k: tuple(v) for k, v in both[0].items()} == {k: tuple(v) for k, v in both[1].items()}
        rows = both[0]
        sizes = Counter(r["cluster_id"] for r in rows.values())
        assert all(r["cluster_size"] == sizes[r["cluster_id"]] for r in rows.values())
        assert sum(r["is_keeper"] for r in rows.values()) == len(sizes)
    assert sizes == Counter({cast(i): 1 for i in range(3)})  # no pairs: all singletons
    assert fuzzy_rows("driver", df)[cast(0)]["cluster_size"] == 3


def test_fuzzy_dedup_warm_call_job_budget(spark):
    """A warm ``fuzzy_dedup`` call, collect included, runs at most 10
    Spark jobs (12 when the labeling still sized clusters with a groupBy
    + join over the component map), counted through a job group."""
    import random

    from rehiver_spark.operators.dedup import fuzzy_dedup

    rng = random.Random(7)
    words = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(120):
        doc = [rng.choice(words) for _ in range(30)]
        rows.append((2 * i, " ".join(doc)))
        if i % 3 == 0:
            doc[rng.randrange(30)] = "zz"
            rows.append((2 * i + 1, " ".join(doc)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string").persist()
    df.count()
    sc = spark.sparkContext
    jobs = []
    try:
        for call in range(2):  # the first call warms the operator caches
            group = f"fuzzy-dedup-job-budget-{call}"
            sc.setJobGroup(group, "fuzzy_dedup")
            try:
                out = fuzzy_dedup(df).select("doc_id", "cluster_id", "is_keeper").collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            assert sum(r.is_keeper for r in out) == 120
    finally:
        df.unpersist()
    assert 0 < jobs[1] <= 10, jobs


def test_incremental_minhash_neardup(spark):
    from rehiver_spark.operators.dedup import (
        incremental_minhash_neardup,
        minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today ok"
    corpus = spark.createDataFrame(
        [(1, base), (2, "an entirely different corpus document about spark plans")],
        "doc_id bigint, text string",
    )
    idx = minhash_index(corpus).localCheckpoint()
    batch = spark.createDataFrame(
        [(10, base + " zz"), (11, "no relation to anything in the corpus at all")],
        "doc_id bigint, text string",
    )
    out = incremental_minhash_neardup(batch, idx, est_threshold=0.5)
    rows = [(r["doc_id"], r["corpus_id"], r["est_jaccard"]) for r in out.collect()]
    assert [(d, c) for d, c, _ in rows] == [(10, 1)]
    assert rows[0][2] >= 0.5
    # the index side must not be shuffled: candidates are a broadcast join
    plan = incremental_minhash_neardup(batch, idx, est_threshold=0.5)\
        ._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_incremental_minhash_empty_sides(spark):
    from rehiver_spark.operators.dedup import (
        incremental_minhash_neardup,
        minhash_index,
    )

    schema = "doc_id bigint, text string"
    docs = spark.createDataFrame([(1, "some corpus text here")], schema)
    empty = spark.createDataFrame([], schema)
    idx = minhash_index(docs)
    assert incremental_minhash_neardup(empty, idx).count() == 0
    empty_idx = minhash_index(empty)
    assert incremental_minhash_neardup(docs, empty_idx).count() == 0


def test_dedup_caches_released_by_clear_cache(spark):
    """The documented release path for the operators' internal
    persist() handles (see module docstring CACHING CONTRACT)."""
    from rehiver_spark.operators.dedup import minhash_neardup_pairs

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    spark.catalog.clearCache()
    before = persisted_ids()
    df = spark.createDataFrame(
        [(1, "some text for the sketch here"), (2, "other text entirely")],
        "doc_id bigint, text string",
    )
    minhash_neardup_pairs(df).count()
    assert persisted_ids() - before  # the documented cache exists...
    spark.catalog.clearCache()
    assert not (persisted_ids() - before)  # ...and clearCache releases it


def test_incremental_banding_agrees_with_batch_lsh(spark):
    """The incremental index join and the batch self-join share ONE
    band-key definition (_band_keys): for the same corpus, the pairs
    the incremental path finds between two halves must be exactly the
    batch LSH candidate pairs that straddle the halves."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.dedup import (
        incremental_minhash_neardup,
        lsh_candidates,
        minhash_index,
        shingles,
    )

    rows = [(i, f"alpha beta gamma delta epsilon token{i % 7} zeta eta") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    corpus = df.filter("doc_id % 2 = 0")
    batch = df.filter("doc_id % 2 = 1")

    sh = df.select("doc_id", shingles(F.col("text"), 3).alias("shingles"))
    all_pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidates(sh, num_hashes=16, bands=8).collect()
    }
    straddling = {
        tuple(sorted(p)) for p in all_pairs if (p[0] % 2) != (p[1] % 2)
    }

    idx = minhash_index(corpus, num_hashes=16)
    got = {
        tuple(sorted((r["doc_id"], r["corpus_id"])))
        for r in incremental_minhash_neardup(
            batch, idx, num_hashes=16, bands=8, est_threshold=0.0
        ).collect()
    }
    assert got == straddling and straddling


def test_jaccard_hot_filter_equals_python_all_pairs(spark):
    """With max_shingle_freq set, Jaccard and the set sizes are taken
    over the FILTERED sets: the pure-Python reference drops the hot
    shingles before sizing, and the pair rows must match it."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.dedup import jaccard_pairs, shingles

    rows = [
        (i, f"common one common two alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(5)
    ] + [(10, "common one common two alpha0 beta0 gamma9 delta9")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string").select(
        "doc_id", shingles(F.col("text"), 2).alias("shingles")
    )
    sets = [(r["doc_id"], r["shingles"]) for r in df.collect()]
    # at 0.3 only the filtered sizes keep (0, 10): 2 / (4 + 4 - 2)
    for t in (0.3, 0.4):
        got = _pair_rows(jaccard_pairs(df, threshold=t, max_shingle_freq=3))
        assert got == _py_jaccard_pairs(sets, t, max_shingle_freq=3), t
    assert _py_jaccard_pairs(sets, 0.3, max_shingle_freq=3).keys() == {(0, 10)}


def test_simhash_max_hamming_zero(spark):
    """max_hamming=0 (exact-signature duplicates) must build and run —
    the single width-64 chunk's mask literal used to overflow int64."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz qq")],
        "doc_id bigint, text string",
    )
    out = simhash_neardup_pairs(df, max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}  # identical text → identical signature


def test_compact_dedup_index_noop_on_missing_or_empty(spark, tmp_path):
    import os

    from rehiver_spark.operators.dedup import compact_dedup_index

    missing = str(tmp_path / "never_created")
    assert compact_dedup_index(spark, missing) == 0
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert compact_dedup_index(spark, empty) == 0


def test_release_persisted_frees_only_operator_caches(spark):
    """The round-5 uniform release path: track_persist registers every
    operator-internal persist; release_persisted() frees exactly those,
    leaving the caller's own caches alone (clearCache can't do that)."""
    from rehiver_spark.operators.dedup import jaccard_pairs, minhash_neardup_pairs, shingles
    from rehiver_spark.session import release_persisted
    from pyspark.sql import functions as F

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    spark.catalog.clearCache()
    release_persisted()
    baseline = persisted_ids()

    # a USER cache that must survive the operator release
    mine = spark.createDataFrame([(1,)], "x int").persist()
    mine.count()

    df = spark.createDataFrame(
        [(1, "some text for the sketch here"), (2, "other text entirely"),
         (3, "some text for the sketch here too")],
        "doc_id bigint, text string",
    )
    minhash_neardup_pairs(df).count()
    sh = df.select("doc_id", shingles(F.col("text")).alias("shingles"))
    jaccard_pairs(sh).count()
    assert len(persisted_ids() - baseline) >= 3  # mine + operator caches

    n = release_persisted()
    assert n >= 2
    after = persisted_ids() - baseline
    # only the user cache remains
    assert len(after) == 1
    mine.unpersist()
    assert release_persisted() == 0  # registry drained, idempotent


def test_bloom_index_never_false_negative_and_bounded_fp(spark):
    """Bloom guarantee: every text whose hash is in the index flags
    maybe_dup; unseen texts flag new except a bounded FP fraction."""
    from rehiver_spark.operators.dedup import bloom_check, bloom_index

    corpus = spark.range(2000).selectExpr("concat('doc text number ', id) AS text")
    m, k = 1 << 15, 5  # fill ≈ 2000*5/32768 ≈ 0.26 → FP ≈ 0.26^5 ≈ 0.1%
    idx = bloom_index(corpus, m_bits=m, k=k)
    dups = spark.range(500).selectExpr(
        "id AS doc_id", "concat('doc text number ', id) AS text"
    )
    fresh = spark.range(5000).selectExpr(
        "id + 10000 AS doc_id", "concat('unseen text number ', id) AS text"
    )
    out_d = bloom_check(dups, idx, m_bits=m, k=k).collect()
    assert all(r["status"] == "maybe_dup" for r in out_d)  # NEVER false-negative
    out_f = bloom_check(fresh, idx, m_bits=m, k=k).collect()
    fp = sum(r["status"] == "maybe_dup" for r in out_f) / len(out_f)
    assert fp < 0.02, fp  # theoretical ~0.1%, generous bound


def test_bloom_merge_is_union_distinct(spark):
    from rehiver_spark.operators.dedup import bloom_check, bloom_index

    a = spark.range(100).selectExpr("concat('a', id) AS text")
    b = spark.range(100).selectExpr("concat('b', id) AS text")
    merged = bloom_index(a).unionByName(bloom_index(b)).distinct()
    direct = bloom_index(a.unionByName(b))
    assert {r["pos"] for r in merged.collect()} == {r["pos"] for r in direct.collect()}


def test_bloom_check_plan_broadcasts_index_and_skips_corpus(spark):
    """The index side rides a broadcast semi-join; the batch never
    sort-merge-shuffles against it."""
    from rehiver_spark.operators.dedup import bloom_check, bloom_index

    corpus = spark.range(100).selectExpr("concat('c', id) AS text")
    batch = spark.range(10).selectExpr("id AS doc_id", "concat('c', id) AS text")
    plan = (
        bloom_check(batch, bloom_index(corpus))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_bloom_check_handles_duplicate_rows_in_batch(spark):
    """Regression: a batch carrying the same document twice (same id or
    same content) must label BOTH rows 'maybe_dup' when the content is
    indexed — the old per-id probe counting summed the duplicated
    probe rows (2k != k) and mislabeled true duplicates 'new',
    breaking the no-false-negative guarantee."""
    from rehiver_spark.operators.dedup import bloom_check, bloom_index

    corpus = spark.createDataFrame([(1, "seen doc one")], "doc_id long, text string")
    idx = bloom_index(corpus, m_bits=1 << 14, k=5)
    batch = spark.createDataFrame(
        [(1, "seen doc one"), (1, "seen doc one"), (9, "seen doc one"), (5, "brand new")],
        "doc_id long, text string",
    )
    out = bloom_check(batch, idx, m_bits=1 << 14, k=5).collect()
    by = {}
    for r in out:
        by.setdefault((r["doc_id"], r["text"]), []).append(r["status"])
    assert by[(1, "seen doc one")] == ["maybe_dup", "maybe_dup"]
    assert by[(9, "seen doc one")] == ["maybe_dup"]
    assert by[(5, "brand new")] == ["new"]


def test_track_persist_high_water_mark_and_thread_safety(spark):
    """The registry is capped (oldest handles unpersist eagerly past
    the high-water mark) and lock-guarded — concurrent track_persist /
    release_persisted must neither race nor grow without bound."""
    import threading

    import rehiver_spark.session as S

    S.release_persisted()  # start clean
    old_hw = S._PERSISTED_HIGH_WATER
    S._PERSISTED_HIGH_WATER = 8
    try:
        df = spark.range(10)
        handles = [S.track_persist(df.selectExpr(f"id + {i} AS id")) for i in range(20)]
        assert len(S._PERSISTED) <= 8
        # evicted handles were really unpersisted
        assert sum(1 for h in handles[:12] if h.storageLevel.useMemory) == 0

        errs = []

        def worker(k):
            try:
                for i in range(25):
                    S.track_persist(df.selectExpr(f"id * {k} + {i} AS id"))
                    if i % 5 == 0:
                        S.release_persisted()
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=worker, args=(k,)) for k in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs
        assert len(S._PERSISTED) <= 8
        S.release_persisted()
        assert len(S._PERSISTED) == 0
    finally:
        S._PERSISTED_HIGH_WATER = old_hw
        S.release_persisted()


def test_minhash_est_gate_auto_margin():
    """r12 ADVICE: the gate margin scales with num_hashes
    (3.5·sqrt(t(1-t)/n) ≈ 3.5σ of the signature estimator at the
    threshold). At the (t=0.8, n=32) defaults that margin (0.2475)
    admits exactly the same signature-match counts as the r12 fixed
    0.25 — both cut between 17/32 and 18/32 — so the committed oracles'
    literal ``>= 0.55`` stays the bit-exact twin; at n=16 the margin is
    √2 wider."""
    import math

    auto32 = 3.5 * math.sqrt(0.8 * 0.2 / 32)
    assert 0.2474 < auto32 < 0.2476
    # granularity argument: no multiple of 1/32 separates the two gates
    assert math.ceil((0.8 - auto32) * 32) == math.ceil((0.8 - 0.25) * 32) == 18
    auto16 = 3.5 * math.sqrt(0.8 * 0.2 / 16)
    assert abs(auto16 - auto32 * math.sqrt(2)) < 1e-12


def test_jaccard_prefix_length_filter_keeps_boundary_pairs(spark):
    """r13 PPJoin+ length filter must be lossless at the exact
    threshold boundary: |A|=5, |B|=4 sharing 4 shingles has
    J = 4/5 = 0.8 — kept at t=0.8 (ceil(0.8*5)=4 <= |B|; a naive
    float ceil of 0.8*5 drifting to 5 would wrongly prune it) — and
    size-ratio-incompatible docs (|A|=10, |B|=4) can never pair."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.dedup import jaccard_pairs

    rows = [
        (1, ["a", "b", "c", "d", "e"]),            # |A|=5
        (2, ["a", "b", "c", "d"]),                 # |B|=4, J(1,2)=4/5=0.8
        (3, ["a", "b", "c", "d", "f", "g", "h", "i", "j", "k"]),  # |C|=10
    ]
    df = spark.createDataFrame(rows, "doc_id int, shingles array<string>")
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in jaccard_pairs(df, "doc_id", "shingles", threshold=0.8).collect()
    }
    assert got == {(1, 2): 0.8}
    # and the filter agrees with pure-Python all-pairs on the same input
    want = _py_jaccard_pairs([(r["doc_id"], r["shingles"]) for r in df.collect()], 0.8)
    assert got == {k: round(v[3], 6) for k, v in want.items()}


def test_selfjoin_merge_gate_equivalence_and_plan(docs, monkeypatch):
    """r13: the _big_corpus scale gate forces the bucket self-joins
    (prefix-Jaccard candidates, LSH bands, SimHash block keys) to
    sort-merge on big corpora — a join-STRATEGY hint only, so the pair
    sets must be bit-identical with the gate on and off, and the gated
    plan must actually carry SortMergeJoin where the ungated one
    broadcasts (the sf10 misplan this corrects: Catalyst's estimate of
    the exploded key relation undershoots the autoBroadcast threshold
    ~10x and a 300-800 MiB map gets built and probed ~5e8 times)."""
    from rehiver_spark.operators import dedup
    from rehiver_spark.operators.dedup import (
        jaccard_pairs, shingles, simhash_neardup_pairs,
    )

    sh = docs.select("doc_id", shingles("text", 3).alias("shingles"))

    def pairs_jac():
        return {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
            for r in jaccard_pairs(sh, threshold=0.8).collect()
        }

    def pairs_sim():
        return {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
        }

    monkeypatch.setattr(dedup, "_SELFJOIN_MERGE_MIN_EST_BYTES", 1 << 62)
    off_jac, off_sim = pairs_jac(), pairs_sim()
    monkeypatch.setattr(dedup, "_SELFJOIN_MERGE_MIN_EST_BYTES", 0)
    on_jac, on_sim = pairs_jac(), pairs_sim()
    assert on_jac == off_jac and len(on_jac) > 0
    assert on_sim == off_sim and len(on_sim) > 0
    # the gate really changes the candidate join's strategy
    plan_on = (
        jaccard_pairs(sh, threshold=0.8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in plan_on
    sim_on = (
        simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in sim_on
