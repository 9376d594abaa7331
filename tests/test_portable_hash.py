"""Portable md5-based hashing (functions/hashing.py) and the
oracle-checkable approximate operators built on it."""

import hashlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_md5_hash60_three_way_parity(spark):
    """Spark, DuckDB, and the driver twin agree bit-for-bit."""
    import duckdb

    from rehiver_spark.functions.hashing import md5_hash60, md5_hash60_py, md5_hash60_sql

    samples = ["", "a", "hello world", "42:7:foo bar", "ünïcode"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got_spark = [r[0] for r in df.select(md5_hash60("s")).collect()]
    got_py = [md5_hash60_py(s) for s in samples]
    got_duck = [
        duckdb.sql(f"SELECT {md5_hash60_sql('?')}", params=[s]).fetchone()[0]
        for s in samples
    ]
    assert got_spark == got_py == got_duck
    assert all(0 <= h < 1 << 60 for h in got_py)


def test_rademacher_planes_deterministic():
    from rehiver_spark.functions.hashing import rademacher_planes

    p1 = rademacher_planes(8, 4, 42)
    p2 = rademacher_planes(8, 4, 42)
    p3 = rademacher_planes(8, 4, 43)
    assert p1 == p2 and p1 != p3
    assert all(x in (-1, 1) for row in p1 for x in row)


def test_minhash_md5_pairs_subset_of_exact_with_recall(docs, sf_dir):
    """md5-sketch LSH pairs ⊆ exact Jaccard pairs; planted near-dups found."""
    from rehiver_spark.operators.dedup import jaccard_pairs, minhash_neardup_pairs, shingles

    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz yy")).alias("text"),
        )
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(corpus, threshold=0.8).collect()
    }
    sh = corpus.select("doc_id", shingles("text", 3).alias("shingles"))
    exact = {
        (r["id_a"], r["id_b"]) for r in jaccard_pairs(sh, threshold=0.8).collect()
    }
    planted = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in docs.filter(F.col("doc_id") % 4 == 0).select("doc_id").collect()
    }
    assert got <= exact
    assert len(got & planted) >= 0.9 * len(planted)  # J≈0.95 ⇒ recall ≈ 1


def _simhash_py(text: str, seed: int = 42) -> int:
    toks = [t for t in " ".join(text.strip().lower().split()).split(" ") if t]
    sums = [0] * 64
    for t in toks:
        h = int(hashlib.md5(f"{seed}:{t}".encode()).hexdigest()[:15], 16)
        for b in range(64):
            sums[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if sums[b] > 0)


def test_simhash_md5_matches_driver_twin(spark):
    from rehiver_spark.operators.dedup import simhash_signatures

    rows = [(1, "the quick brown fox"), (2, "lorem ipsum dolor"), (3, "a"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["sig"]
        for r in simhash_signatures(df, hash_fn="md5").collect()
    }
    for doc_id, text in rows:
        assert got[doc_id] == _simhash_py(text), text
        assert got[doc_id] < 1 << 60  # md5 mode: top 4 bits always clear


def test_simhash_md5_blocking_equals_all_pairs(docs):
    """Pigeonhole blocking is lossless: engine result == all-pairs hamming."""
    from rehiver_spark.operators.dedup import simhash_neardup_pairs, simhash_signatures

    sub = docs.select("doc_id", "text").filter(F.col("doc_id") < 120)
    corpus = sub.unionByName(
        sub.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.upper("text").alias("text"),
        )
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(corpus, max_hamming=3, hash_fn="md5").collect()
    }
    sigs = {
        r["doc_id"]: r["sig"]
        for r in simhash_signatures(corpus, hash_fn="md5").collect()
    }
    ids = sorted(sigs)
    exp = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert got == exp and exp  # non-trivial: upper() copies are hamming-0


def test_winnow_shared_substring_guarantee(spark):
    """Docs sharing a substring of length ≥ k + w − 1 share a fingerprint."""
    from rehiver_spark.operators.textops import winnow_fingerprints

    common = "the common shared passage lives here"
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {common} gamma delta"),
            (2, f"unrelated prefix text {common} and a different tail"),
            (3, "completely different content with no overlap at all xyz"),
        ],
        "doc_id bigint, text string",
    )
    out = winnow_fingerprints(df, k=5, window=4)
    fps = {i: set() for i in (1, 2, 3)}
    for r in out.collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2]  # shared passage ⇒ shared fingerprint
    assert out.groupBy("doc_id", "fp").count().filter("count > 1").count() == 0


def test_winnow_short_doc_single_gram(spark):
    from rehiver_spark.functions.hashing import md5_hash60_py
    from rehiver_spark.operators.textops import winnow_fingerprints

    df = spark.createDataFrame([(1, "ab")], "doc_id bigint, text string")
    rows = winnow_fingerprints(df, k=5, window=4, hash_fn="md5").collect()
    assert [(r["doc_id"], r["fp"]) for r in rows] == [(1, md5_hash60_py("ab"))]


def test_winnow_fast_path_same_overlap_structure(spark):
    """hash_fn=xxhash64 (production) selects via the same winnowing rule
    as the portable path: shared substrings still share a fingerprint
    and per-doc fingerprint COUNTS match (the selected positions are
    hash-dependent, so only the guarantee and cardinality-shape are
    comparable, not the values)."""
    from rehiver_spark.operators.textops import winnow_fingerprints

    common = "the common shared passage lives here"
    df = spark.createDataFrame(
        [(1, f"aaa {common} bbb"), (2, f"ccc ddd {common} eee"), (3, "zzz unrelated")],
        "doc_id bigint, text string",
    )
    fast = winnow_fingerprints(df, k=5, window=4)  # default xxhash64
    fps = {i: set() for i in (1, 2, 3)}
    for r in fast.collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2] and not (fps[1] & fps[3])


def test_winnow_byte_gram_path_equals_char_path(spark):
    """r14: ASCII rows slice UTF-8 BYTES (O(k) per gram) instead of
    chars (O(position) per gram — UTF8String.substring scans from the
    string start, an O(n²)-bytes-per-doc pathology). The byte window
    equals the char window exactly when length == octet_length, and
    md5/xxhash64 hash a string's UTF-8 bytes — so fingerprints must be
    BIT-IDENTICAL per row, with non-ASCII rows taking the char path.
    Pinned against a pure-Python winnow over the same texts."""
    from rehiver_spark.functions.hashing import md5_hash60_py
    from rehiver_spark.operators.textops import winnow_fingerprints

    texts = [
        (1, "the quick brown fox jumps over the lazy dog repeatedly"),
        (2, "ünïcödé rows take the O(n²) char path and stay exact"),
        (3, "mixed ascii then ünïcödé"),
        (4, "tiny"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {i: set() for i, _ in texts}
    for r in winnow_fingerprints(df, k=5, window=4, hash_fn="md5").collect():
        got[r["doc_id"]].add(r["fp"])

    # pure-Python reference: normalize == lower + collapse whitespace
    # (normalize_text), gram hash == md5_hash60_py, window-min distinct
    import re

    def ref(t):
        if t is None:
            # pre-existing operator behavior: greatest(NULL-4, 1) = 1,
            # so a NULL text emits one NULL fingerprint (both paths)
            return {None}
        nt = re.sub(r"\s+", " ", t.lower()).strip()
        n = max(len(nt) - 4, 1)
        hs = [md5_hash60_py(nt[i : i + 5]) for i in range(n)]
        nw = max(len(hs) - 3, 1)
        return {min(hs[j : j + 4]) for j in range(nw)}

    for i, t in texts:
        assert got[i] == ref(t), (i, t)


def test_quantized_sign_lsh_matches_driver_twin(spark):
    """The bucketing ``lsh_cosine_neardup_portable`` runs (its integer
    grid, then the batched plane matmul over ``rademacher_planes``)
    equals the pure-Python sign computation."""
    import rehiver_spark.operators.vectorops as vo
    from rehiver_spark.functions.hashing import rademacher_planes

    vecs = [(1, [0.5, -0.25, 0.125, 0.9]), (2, [-0.1, 0.2, -0.3, 0.4])]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    planes = rademacher_planes(4, 8, 42)
    bkts = vo._plane_buckets_udf([planes], input_dtype="int64")
    grid = vo._quantize_grid(vo.as_double("embedding"), 10000)
    got = {r["vec_id"]: r["b"] for r in df.select("vec_id", bkts(grid)[0].alias("b")).collect()}
    for vid, v in vecs:
        q = [round(x * 10000) for x in v]
        exp = sum(
            1 << i
            for i, p in enumerate(planes)
            if sum(a * b for a, b in zip(q, p)) > 0
        )
        assert got[vid] == exp


def test_lsh_cosine_portable_subset_and_recall(spark, sf_dir):
    from rehiver_spark.operators.vectorops import lsh_cosine_neardup_portable

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    perturbed = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + 0.02).alias("embedding"),
    )
    corpus = base.unionByName(perturbed)
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_cosine_neardup_portable(corpus, dim=64, threshold=0.9).collect()
    }
    planted = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in base.filter(F.col("vec_id") % 5 == 0).select("vec_id").collect()
    }
    assert got <= planted  # only planted pairs clear cosine ≥ 0.9
    assert len(got) >= 0.9 * len(planted)  # 4 tables × 12 planes ⇒ recall ≈ 1


def test_winnow_matches_pure_python_reference(spark):
    """The zero-shuffle HOF formulation must select EXACTLY the
    fingerprints of a straightforward driver-side winnowing reference
    (hash k-grams, min per sliding window, distinct)."""
    import re as _re

    from rehiver_spark.functions.hashing import md5_hash60_py
    from rehiver_spark.operators.textops import winnow_fingerprints

    k, w = 5, 4
    texts = {
        1: "The quick   Brown fox jumps over the lazy dog",
        2: "pack my box with five dozen liquor jugs",
        3: "ab",  # shorter than k: single whole-text gram
        4: "exactly08",  # len 9 → 5 grams, 2 windows
    }

    def ref(t):
        nt = _re.sub(r"\s+", " ", t.strip()).lower()
        grams = [nt[i : i + k] for i in range(max(len(nt) - k + 1, 1))]
        hs = [md5_hash60_py(g) for g in grams]
        nw = max(len(hs) - w + 1, 1)
        return {min(hs[i : i + w]) for i in range(nw)}

    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = {}
    for r in winnow_fingerprints(df, k=k, window=w, hash_fn="md5").collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    assert got == {i: ref(t) for i, t in texts.items()}


def test_winnow_plan_has_no_key_shuffle(spark):
    """The zero-shuffle formulation: no hash/range exchange anywhere in
    the winnow plan (ensure_parallelism's round-robin on a small single
    file is allowed — it disappears on real multi-file scans)."""
    from rehiver_spark.operators.textops import winnow_fingerprints

    df = spark.range(64).selectExpr(
        "id AS doc_id", "concat('some body of text number ', id) AS text"
    ).repartition(32)  # enough partitions → ensure_parallelism no-ops
    plan = winnow_fingerprints(df)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
