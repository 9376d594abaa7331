import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_tokens_and_counts(spark):
    from rehiver_spark.operators.textops import token_count, tokens

    df = spark.createDataFrame(
        [("  Hello   world  ",), ("",), ("one",), ("a b  c",)], "text string"
    )
    rows = df.select(tokens("text").alias("t"), token_count("text").alias("n")).collect()
    assert rows[0]["t"] == ["hello", "world"] and rows[0]["n"] == 2
    assert rows[1]["t"] == [] and rows[1]["n"] == 0
    assert rows[3]["n"] == 3


def test_char_stats_and_quality(spark):
    from rehiver_spark.operators.textops import char_stats, quality_score

    df = spark.createDataFrame([("ab1 ,x",)], "text string")
    st = df.select(*[v.alias(k) for k, v in char_stats("text").items()]).first()
    assert (st["n_alpha"], st["n_digit"], st["n_space"], st["n_punct"]) == (3, 1, 1, 1)
    q = df.select(quality_score("text")).first()[0]
    assert 0.0 <= q <= 1.0


def test_stopword_ratio_empty_safe(spark):
    from rehiver_spark.operators.textops import stopword_ratio

    df = spark.createDataFrame([("the cat",), ("",)], "text string")
    got = [r[0] for r in df.select(stopword_ratio("text")).collect()]
    assert got[0] == 0.5 and got[1] == 0.0


def test_lang_id_deterministic(spark):
    from rehiver_spark.operators.textops import lang_id

    df = spark.createDataFrame(
        [("the cat and the dog",), ("der hund und die katze ist",), ("xyz qqq",)],
        "text string",
    )
    got = [r[0] for r in df.select(lang_id("text")).collect()]
    assert got == ["en", "de", "und"]


def test_text_stats_runs_on_real_docs(docs):
    from rehiver_spark.operators.textops import text_stats

    out = text_stats(docs)
    row = out.orderBy("doc_id").first()
    assert row["n_tokens"] > 0 and row["n_chars"] == row["n_chars"]
    assert out.count() == docs.count()


def test_tfidf_matches_duckdb(docs, sf_dir):
    import duckdb

    from rehiver_spark.operators.textops import tf_idf

    got = {
        (r["source"], r["token"]): (r["tf"], r["df_docs"], round(r["tf_idf"], 6))
        for r in tf_idf(docs).collect()
    }
    exp = duckdb.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, source, unnest(list_filter(string_split_regex(lower(trim(text)),'\\s+'), x -> x <> '')) AS token
          FROM '{sf_dir}/documents.parquet'
        ), n AS (SELECT count(DISTINCT doc_id) nd FROM toks),
        tf AS (SELECT source, token, count(*) tf FROM toks GROUP BY 1,2),
        dfq AS (SELECT token, count(DISTINCT doc_id) dfd FROM toks GROUP BY 1)
        SELECT source, token, tf, dfd, round(tf * ln((SELECT nd FROM n)::DOUBLE / dfd), 6)
        FROM tf JOIN dfq USING (token)
        """
    ).fetchall()
    assert len(exp) == len(got)
    for src, tok, tf, dfd, tfidf in exp:
        g = got[(src, tok)]
        assert g[0] == tf and g[1] == dfd and abs(g[2] - tfidf) < 1e-6


def test_chunk_documents_shapes(spark):
    from rehiver_spark.operators.textops import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(150))), (2, "short doc"), (3, "")],
        "doc_id bigint, text string",
    )
    out = chunk_documents(df, chunk_tokens=64, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 150 tokens, stride 56: ceil((150-8)/56) = 3 chunks
    assert len(by_doc[1]) == 3
    assert by_doc[1][0]["n_chunk_tokens"] == 64
    # overlap: chunk1 starts at token 56 (0-based), overlapping 8 tokens
    c0 = by_doc[1][0]["chunk_text"].split()
    c1 = by_doc[1][1]["chunk_text"].split()
    assert c0[-8:] == c1[:8]
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 2
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_chunk_tokens"] == 0


def test_redact_pii(spark):
    from pyspark.sql import functions as F

    from rehiver_spark.operators.textops import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at a.b+c@foo.org or call 555-123-4567 ssn 123-45-6789 ok")],
        "id bigint, text string",
    )
    got = df.select(redact_pii("text").alias("c")).first()["c"]
    assert got == "mail me at [PII] or call [PII] ssn [PII] ok"


def test_stratified_sample_deterministic(spark):
    from rehiver_spark.operators.textops import stratified_sample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = sorted(map(str, stratified_sample(d, "source", 3).collect()))
    s2 = sorted(map(str, stratified_sample(d, "source", 3).collect()))
    assert s1 == s2
    per = stratified_sample(d, "source", 3).groupBy("source").count().collect()
    assert all(r["count"] <= 3 for r in per)


def test_pack_sequences_bins_respect_order_and_budget(spark):
    from rehiver_spark.operators.textops import pack_sequences
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(i, "s0", " ".join(["w"] * 100)) for i in range(10)]
        + [(20, "s1", " ".join(["w"] * 600))],
        "doc_id long, source string, text string",
    )
    got = {r.doc_id: (r.start_offset, r.bin_id) for r in pack_sequences(docs, budget=256).collect()}
    # s0: 100-token docs at offsets 0,100,...,900 -> bins 0,0,0,1,1,1,2,2,3,3
    assert [got[i][1] for i in range(10)] == [0, 0, 0, 1, 1, 1, 2, 2, 3, 3]
    # shards pack independently: s1's single doc starts at offset 0
    assert got[20] == (0, 0)


def test_training_mix_budget_prefix(spark):
    from rehiver_spark.operators.textops import training_mix_sample
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(i, "s0", " ".join(["w"] * 40)) for i in range(20)],
        "doc_id long, source string, text string",
    )
    budgets = spark.createDataFrame([("s0", 200)], "source string, budget_tokens int")
    rows = training_mix_sample(docs, budgets).collect()
    # 40-token docs, 200-token budget: docs starting at 0,40,80,120,160 → 5 kept
    assert len(rows) == 5
    assert max(r.cum_before for r in rows) == 160
    # deterministic: same call yields the same doc set
    again = {r.doc_id for r in training_mix_sample(docs, budgets).collect()}
    assert again == {r.doc_id for r in rows}


def test_pack_and_mix_tolerate_null_text(spark):
    from rehiver_spark.operators.textops import pack_sequences, training_mix_sample

    docs = spark.createDataFrame(
        [(1, "s0", "a b c"), (2, "s0", None), (3, "s0", "d e")],
        "doc_id long, source string, text string",
    )
    packed = {r.doc_id: (r.n_tokens, r.start_offset, r.bin_id) for r in pack_sequences(docs, budget=4).collect()}
    assert packed[2] == (0, 3, 0)  # null text = zero tokens, offsets stay defined
    assert packed[3] == (2, 3, 0)
    budgets = spark.createDataFrame([("s0", 100)], "source string, budget_tokens int")
    assert training_mix_sample(docs, budgets).count() == 3


def test_containment_empty_benchmark(spark):
    from rehiver_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    bench = spark.createDataFrame([], "bench_id long, text string")
    assert containment_pairs(docs, bench).count() == 0


def test_dedup_spans_removes_shared_prefix_keeps_first(spark):
    from rehiver_spark.operators.textops import dedup_spans

    rows = [
        (1, "a b c d e f g h i j k l m n o p q r s t"),   # 2 full spans
        (2, "a b c d e f g h i j z z z z z z z z z z"),   # span0 dups doc1's
        (3, "q q q"),                                      # short: single span
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_spans(df, span_tokens=10).collect()}

    assert out[1]["n_spans"] == 2 and out[1]["n_removed"] == 0
    assert out[1]["cleaned_text"] == rows[0][1]
    # doc2's first span is a global dup of doc1's first span -> removed
    assert out[2]["n_removed"] == 1
    assert out[2]["cleaned_text"] == "z z z z z z z z z z"
    assert out[3]["n_spans"] == 1 and out[3]["cleaned_text"] == "q q q"


def test_canonicalize_url_rules(spark):
    from rehiver_spark.operators.textops import canonicalize_url, url_dedup

    cases = [
        (1, "HTTPS://Example.COM:443/A/B/?utm_source=x&b=2&a=1#frag",
            "https://example.com/A/B?a=1&b=2"),
        (2, "https://example.com/a/b?b=2&a=1", "https://example.com/a/b?a=1&b=2"),
        (3, "http://example.com:80/", "http://example.com/"),
        (4, "http://example.com", "http://example.com/"),
        (5, "https://example.com/x?fbclid=abc&gclid=d", "https://example.com/x"),
        (6, "https://example.com:8080/x", "https://example.com:8080/x"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], ["doc_id", "url"])
    got = {
        r["doc_id"]: r["canon"]
        for r in df.select("doc_id", canonicalize_url("url").alias("canon")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)

    dd = {r["doc_id"]: r for r in url_dedup(df).collect()}
    # ids 3 and 4 canonicalize identically -> keep-min-id dedup
    assert dd[3]["is_keeper"] and dd[3]["dup_count"] == 2
    assert not dd[4]["is_keeper"] and dd[4]["dup_count"] == 2
    assert all(r["is_keeper"] and r["dup_count"] == 1
               for i, r in dd.items() if i not in (3, 4))


def test_charlm_score_matches_python_reference(spark):
    import math, re
    from collections import Counter
    from rehiver_spark.operators.textops import charlm_score

    texts = {1: "abab abab", 2: "abab zq!!", 3: "aa"}
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["doc_id"]: r for r in charlm_score(df).collect()}

    norm = {i: re.sub(r"\s+", " ", t.strip().lower()) for i, t in texts.items()}
    bigrams = {i: [n[j:j+2] for j in range(len(n)-1)] for i, n in norm.items()}
    bc = Counter(b for bs in bigrams.values() for b in bs)
    uc = Counter()
    for b, c in bc.items():
        uc[b[0]] += c
    v = len({ch for n in norm.values() for ch in n})
    for i, bs in bigrams.items():
        ce = -sum(math.log((bc[b] + 1.0) / (uc[b[0]] + v)) for b in bs) / len(bs)
        assert got[i]["n_bigrams"] == len(bs)
        assert abs(got[i]["cross_entropy"] - round(ce, 6)) < 1e-9, i
    # the junk-suffix doc scores strictly worse (higher cross-entropy)
    assert got[2]["cross_entropy"] > got[1]["cross_entropy"]


def test_remove_boilerplate_lines(spark):
    from rehiver_spark.operators.textops import remove_boilerplate_lines

    docs = [
        (i, f"unique line {i}\nALL rights   reserved\nbody {i} stays") for i in range(6)
    ] + [(99, "only unique content here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(df, max_doc_freq=2).collect()}
    assert len(out) == 7
    for i in range(6):
        # the footer (normalized: case/whitespace folded) is in 6 docs > 2 → gone
        assert out[i]["cleaned_text"] == f"unique line {i}\nbody {i} stays"
        assert out[i]["n_lines"] == 3 and out[i]["n_removed"] == 1
    assert out[99]["cleaned_text"] == "only unique content here"
    assert out[99]["n_removed"] == 0
    # rare duplicates survive: freq ≤ max_doc_freq
    df2 = spark.createDataFrame(
        [(1, "shared\na"), (2, "shared\nb")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r for r in remove_boilerplate_lines(df2, max_doc_freq=2).collect()}
    assert out2[1]["cleaned_text"] == "shared\na" and out2[2]["n_removed"] == 0
    # a fully-boilerplate doc survives with empty text
    df3 = spark.createDataFrame(
        [(i, "spam line") for i in range(5)], "doc_id long, text string"
    )
    out3 = {r["doc_id"]: r for r in remove_boilerplate_lines(df3, max_doc_freq=2).collect()}
    assert all(r["cleaned_text"] == "" and r["n_removed"] == 1 for r in out3.values())


def test_boilerplate_exempts_blank_lines(spark):
    from rehiver_spark.operators.textops import remove_boilerplate_lines

    docs = [(i, f"para one {i}\n\npara two {i}") for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(df, max_doc_freq=2).collect()}
    for i in range(8):
        # the blank separator appears in all 8 docs but is structure,
        # not boilerplate — it must survive
        assert out[i]["cleaned_text"] == f"para one {i}\n\npara two {i}"
        assert out[i]["n_removed"] == 0


def test_corpus_report_basics(spark):
    from rehiver_spark.operators.textops import corpus_report

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox is here", "web"),
            (2, "the quick brown fox is here", "web"),   # exact dup of 1
            (3, "one two", "web"),
            (4, "der hund ist nicht da und das ist gut", "books"),
        ],
        "doc_id bigint, text string, source string",
    )
    rep = {r["source"]: r for r in corpus_report(df).collect()}
    web = rep["web"]
    assert web["n_docs"] == 3 and web["total_tokens"] == 14
    assert web["min_tokens"] == 2 and web["max_tokens"] == 6
    assert abs(web["dup_rate"] - (1 - 2 / 3)) < 1e-6
    assert abs(web["en_share"] - 2 / 3) < 1e-6
    books = rep["books"]
    assert books["n_docs"] == 1 and books["dup_rate"] == 0.0
    assert books["en_share"] == 0.0  # German profile wins


def test_quality_select_prefix_rule(spark):
    from rehiver_spark.operators.textops import quality_select, quality_score
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox is in the barn today again", "web"),
            (2, "zzz qqq xxx", "web"),
            (3, "the and of to in is a an the and", "web"),
        ],
        "doc_id bigint, text string, source string",
    )
    budgets = spark.createDataFrame([("web", 12)], "source string, budget_tokens int")
    out = quality_select(df, budgets).collect()
    got = {r["doc_id"]: r for r in out}
    # ordering follows rounded quality desc; the greedy prefix rule
    # admits docs whose cumulative offset starts inside 12 tokens
    qs = {r["doc_id"]: r["quality"] for r in out}
    order = sorted(got, key=lambda d: (-got[d]["quality"], d))
    cum = 0
    for d in order:
        assert got[d]["cum_before"] == cum
        cum += got[d]["n_tokens"]
    # the lowest-quality doc (2: no stopwords, gibberish) is cut when
    # the budget binds before it
    all_q = {
        r["doc_id"]: r["q"]
        for r in df.select("doc_id", F.round(quality_score(F.col("text")), 6).alias("q")).collect()
    }
    assert min(all_q, key=all_q.get) == 2
    assert 2 not in got or got[2]["cum_before"] < 12


def test_epoch_shuffle_split_stable_across_seeds(spark):
    from collections import Counter

    from rehiver_spark.functions.hashing import md5_hash60_py
    from rehiver_spark.operators.textops import epoch_shuffle

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    ra = {r["doc_id"]: r for r in epoch_shuffle(df, seed=1).collect()}
    rb = {r["doc_id"]: r for r in epoch_shuffle(df, seed=2).collect()}
    # the split band is seed-free: identical membership in every epoch
    assert all(ra[d]["split"] == rb[d]["split"] for d in ra)
    # while the epoch order genuinely reshuffles with the seed
    assert sum(ra[d]["shuffle_key"] != rb[d]["shuffle_key"] for d in ra) > 450
    # shard is derived from the order key; matches the driver-side twin
    assert all(r["shard"] == r["shuffle_key"] % 64 for r in ra.values())
    assert ra[7]["shuffle_key"] == md5_hash60_py("1:7")
    shares = Counter(r["split"] for r in ra.values())
    assert set(shares) <= {"train", "val", "test"} and shares["train"] > 400


def test_vocab_top_k_exact_counts_and_tiebreak(spark):
    from rehiver_spark.operators.textops import vocab_top_k

    df = spark.createDataFrame(
        [(1, "a b b c"), (2, "b c c"), (3, "")],
        "doc_id bigint, text string",
    )
    out = [
        (r["token"], r["total_count"], r["doc_freq"])
        for r in vocab_top_k(df, k=2).collect()
    ]
    # b and c tie on total=3 → token ASC decides both rank and the
    # boundary cut; 'a' (total=1) falls outside k=2
    assert out == [("b", 3, 2), ("c", 3, 2)]


def test_chunk_reassembly_roundtrip_small(spark):
    from pyspark.sql import functions as F

    from rehiver_spark.operators.textops import (
        chunk_documents,
        normalize_text,
        reassemble_chunks,
    )

    df = spark.createDataFrame(
        [
            (1, "  The   quick brown FOX jumps over the lazy dog " * 20),
            (2, "tiny"),
            (3, ""),
        ],
        "doc_id bigint, text string",
    )
    chunks = chunk_documents(df, chunk_tokens=10, overlap=3)
    back = {r["doc_id"]: r["text"] for r in reassemble_chunks(chunks, overlap=3).collect()}
    want = {
        r["doc_id"]: r["norm"]
        for r in df.select("doc_id", normalize_text(F.col("text")).alias("norm")).collect()
    }
    assert back == want


def test_new_layout_ops_degenerate_inputs(spark):
    """Empty frames, null text, and single-band splits must not wedge
    the layout/vocabulary operators."""
    from rehiver_spark.operators.textops import (
        epoch_shuffle,
        reassemble_chunks,
        vocab_top_k,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert vocab_top_k(empty).count() == 0
    assert epoch_shuffle(empty).count() == 0
    assert reassemble_chunks(
        spark.createDataFrame([], "doc_id bigint, chunk_idx int, chunk_text string")
    ).count() == 0

    # null text: the doc contributes no tokens but must not poison aggs
    nulls = spark.createDataFrame(
        [(1, None), (2, "a a b")], "doc_id bigint, text string"
    )
    v = {r["token"]: r["total_count"] for r in vocab_top_k(nulls).collect()}
    assert v == {"a": 2, "b": 1}

    # a one-band split assigns every row to that band
    one = epoch_shuffle(
        spark.range(0, 50).withColumnRenamed("id", "doc_id"),
        split_weights=[("all", 1.0)],
    )
    assert one.select("split").distinct().collect()[0][0] == "all"


def test_token_drift_exact_tv_distance(spark):
    from rehiver_spark.operators.textops import token_drift

    df = spark.createDataFrame(
        [(1, "a a b", "ref"), (2, "a b b c", "cur")],
        "doc_id bigint, text string, source string",
    )
    rows = token_drift(df, ref_source="ref").collect()
    assert len(rows) == 1
    r = rows[0]
    # p_cur = (1/4, 2/4, 1/4), q_ref = (2/3, 1/3, 0)
    # TV = (|1/4-2/3| + |1/2-1/3| + |1/4-0|) / 2 = 5/12
    assert r["source"] == "cur" and r["n_tokens"] == 4
    assert r["tv_distance"] == round(5 / 12, 6)
    # identical distributions drift 0
    same = spark.createDataFrame(
        [(1, "x y", "ref"), (2, "y x", "cur")],
        "doc_id bigint, text string, source string",
    )
    assert token_drift(same, "ref").collect()[0]["tv_distance"] == 0.0


def test_tf_idf_df_docs_counts_documents_not_rows(spark):
    """A document stored across multiple rows (chunked storage) must
    count once in df_docs — per-row counting would let df_docs exceed
    n_docs and flip idf negative."""
    import math

    from rehiver_spark.operators.textops import tf_idf

    df = spark.createDataFrame(
        [(1, "alpha beta", "s"), (1, "alpha gamma", "s"), (2, "beta", "s")],
        "doc_id bigint, text string, source string",
    )
    out = {r["token"]: r for r in tf_idf(df).collect()}
    assert out["alpha"]["df_docs"] == 1        # doc 1 only, despite 2 rows
    assert out["beta"]["df_docs"] == 2
    assert abs(out["alpha"]["idf"] - math.log(2 / 1)) < 1e-12
    assert out["gamma"]["idf"] >= 0            # never negative


def test_canonicalize_url_port_strip_is_scheme_conditional(spark):
    """https://host:80 is a distinct origin (TLS on port 80) — only a
    scheme's DEFAULT port may be stripped."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.textops import canonicalize_url

    rows = [
        (1, "https://example.com:80/x"),
        (2, "http://example.com:443/x"),
        (3, "https://example.com:443/x"),
        (4, "http://example.com:80/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", canonicalize_url(F.col("url")).alias("c")).collect()
    }
    assert got[1] == "https://example.com:80/x"   # preserved
    assert got[2] == "http://example.com:443/x"   # preserved
    assert got[3] == "https://example.com/x"      # default stripped
    assert got[4] == "http://example.com/x"       # default stripped


# ---------------------------------------------------------------------------
# X48 — weighted sampling without replacement
# ---------------------------------------------------------------------------


def _es_ref_sample(ids_weights, k, seed=42):
    """Pure-Python Efraimidis–Spirakis with the same md5-derived u."""
    import math

    from rehiver_spark.functions.hashing import md5_hash60_py

    keyed = []
    for i, w in ids_weights:
        if w is None or w <= 0:
            continue
        u = (md5_hash60_py(f"ws{seed}:{i}") + 1) / float(1 << 60)
        keyed.append((-math.log(u) / w, i))
    keyed.sort()
    return [i for _, i in keyed[:k]]


def test_weighted_sample_matches_reference_and_excludes_nonpositive(spark):
    from rehiver_spark.operators.textops import weighted_sample

    rows = [(i, "g", float(w)) for i, w in enumerate([5, 1, 0, -3, 8, 2, 7, 1, 9, 4])]
    rows.append((99, "g", None))
    df = spark.createDataFrame(rows, "doc_id long, source string, wt double")
    got = sorted(
        r["doc_id"]
        for r in weighted_sample(df, "wt", k=4, group_cols=["source"]).collect()
    )
    expect = sorted(_es_ref_sample([(i, w) for i, _, w in rows], 4))
    assert got == expect
    # zero/negative/null weights can never appear
    assert 2 not in got and 3 not in got and 99 not in got


def test_weighted_sample_is_pps_without_replacement():
    """Statistical check of the race itself (pure Python, same
    formula): an item with 10x the weight must be sampled close to the
    true PPS-WOR inclusion probability, across many seeds."""
    items = [(f"h{i}", 10.0) for i in range(5)] + [
        (f"l{i}", 1.0) for i in range(45)
    ]
    trials, heavy_hits = 400, 0
    for s in range(trials):
        got = _es_ref_sample(items, 5, seed=s)
        heavy_hits += sum(1 for i in got if i.startswith("h"))
    # true ES inclusion rate for this config is 0.472 (simulated with
    # a real RNG over 20k trials); the md5-derived u must land in a
    # loose ±0.05 band around it — both hash-uniformity and the race
    # formula are exercised
    rate = heavy_hits / (trials * 5)
    assert 0.42 < rate < 0.53, rate


def test_weighted_sample_group_independence(spark):
    """Each group samples independently: adding a group never changes
    another group's sample (the race key depends only on id+seed)."""
    from rehiver_spark.operators.textops import weighted_sample

    a = [(i, "a", 1.0 + i % 7) for i in range(40)]
    b = [(1000 + i, "b", 2.0) for i in range(40)]
    one = spark.createDataFrame(a, "doc_id long, source string, wt double")
    both = spark.createDataFrame(a + b, "doc_id long, source string, wt double")
    s_one = sorted(
        r["doc_id"] for r in weighted_sample(one, "wt", 8, ["source"]).collect()
    )
    s_both = sorted(
        r["doc_id"]
        for r in weighted_sample(both, "wt", 8, ["source"]).collect()
        if r["source"] == "a"
    )
    assert s_one == s_both


def test_pipeline_yield_buckets_partition_the_corpus(spark):
    """X54 invariant: every document lands in exactly one yield bucket
    (dup → contaminated → low-quality → kept), so the four buckets sum
    to the per-source document count, and kept tokens are positive
    wherever docs survive."""
    from rehiver_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["x54_pipeline_yield"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert (
            r["dropped_dup"]
            + r["dropped_contam"]
            + r["dropped_quality"]
            + r["n_kept"]
            == r["n_docs"]
        ), r
        if r["n_kept"] > 0:
            assert r["tokens_kept"] > 0, r


# ---------------------------------------------------------------------------
# X57 — exact substring dedup at any alignment
# ---------------------------------------------------------------------------


def _ref_dedup_substrings(docs, L):
    """Pure-Python reference: stride-1 window keep-first + interval
    excision, identical greedy semantics."""
    seen = {}
    cuts = {i: [] for i, _ in docs}
    for i, text in docs:
        toks = (text or "").lower().split()
        for p in range(len(toks) - L + 1):
            key = " ".join(toks[p : p + L])
            if key in seen:
                cuts[i].append(p)
            else:
                seen[key] = (i, p)
    out = {}
    for i, text in docs:
        toks = (text or "").lower().split()
        remove = set()
        for p in cuts[i]:
            remove.update(range(p, p + L))
        kept = [t for j, t in enumerate(toks) if j not in remove]
        # merged MAXIMAL-interval count: [p, p+L) half-open, so two
        # back-to-back cut windows (next starts exactly at prev end)
        # form ONE contiguous excised interval — the operator's
        # gaps-and-islands condition (pos > prev_end) does the same
        spans, prev_end = 0, -1
        for p in sorted(cuts[i]):
            if p > prev_end:
                spans += 1
            prev_end = max(prev_end, p + L)
        out[i] = (" ".join(kept), len(toks), len(kept), spans)
    return out


def test_dedup_substrings_matches_reference_any_alignment(spark):
    from rehiver_spark.operators.textops import dedup_substrings

    # doc 1 repeats doc 0's middle at a NON-span-aligned offset; doc 2
    # repeats a run twice internally; doc 3 is short (< L, untouched)
    core = " ".join(f"w{i}" for i in range(12))
    core2 = " ".join(f"v{i}" for i in range(12))
    docs = [
        (0, "alpha beta " + core + " gamma delta"),
        (1, "prefix one two three " + core + " suffix"),
        (2, "x " + core + " mid " + core + " y"),
        (3, "tiny doc"),
        (4, None),
        (5, "p q " + core2 + " r s"),
        # doc 6: TWO different previously-seen windows BACK TO BACK —
        # their excised intervals touch and must merge into ONE
        # maximal span (the gaps-and-islands condition), not two
        (6, core + " " + core2),
        # doc 7: two previously-seen windows SEPARATED by fresh text —
        # two DISJOINT excision intervals in one doc (pins the r13
        # indexed-array-filter reconstruction against a multi-interval
        # _ivs list, where interval order in the collected array is
        # arbitrary)
        (7, core + " fresh unseen middle tokens here " + core2),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["cleaned_text"],
            r["n_tokens_before"],
            r["n_tokens_after"],
            r["n_cut_spans"],
        )
        for r in dedup_substrings(df, window_tokens=12).collect()
    }
    expect = _ref_dedup_substrings(docs, 12)
    assert got == expect
    # the duplicated core survives exactly once corpus-wide
    n_core = sum(g[0].count(core) for g in got.values())
    assert n_core == 1
    # doc 6's two back-to-back excisions merged into ONE maximal span
    assert got[6] == ("", 24, 0, 1), got[6]
    # doc 7's two excisions stay DISJOINT: 2 spans, the fresh middle
    # survives
    assert got[7][3] == 2 and "fresh unseen middle tokens here" in got[7][0]


def test_dedup_substrings_on_real_corpus_matches_reference(spark):
    import duckdb

    from rehiver_spark.operators.textops import dedup_substrings

    rows = duckdb.sql(
        "SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) "
        "FROM '/root/testdata/sf0.001/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["n_tokens_before"], r["n_tokens_after"], r["n_cut_spans"])
        for r in dedup_substrings(df, window_tokens=15).collect()
    }
    expect = {
        i: (b, a, s)
        for i, (_, b, a, s) in _ref_dedup_substrings(rows, 15).items()
    }
    assert got == expect
    assert any(b != a for b, a, _ in got.values())  # fixture has real dups


def test_repetition_stats_whitespace_only_docs_emit_no_row(spark):
    """r6 advisor (high): Spark's trim strips only 0x20 spaces, so a
    tab/newline-only document slipped past the old trim!=''
    (NBSP is NOT in Java's ASCII \\s, so an NBSP-only doc tokenizes to
    one token on both engines and was never in this failure class)
    empty-doc filter with ZERO tokens and the ratio divisions raised
    DIVIDE_BY_ZERO under ANSI mode. The rlike('\\S') filter matches
    tokenize's \\s semantics: zero-token docs emit no row, non-empty
    docs are untouched."""
    from rehiver_spark.operators.textops import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "\t"),
            (2, "\n\n"),
            (3, " \t \n "),
            (4, None),
            (5, ""),
            (6, "real words here real"),
        ],
        "doc_id int, text string",
    )
    rows = repetition_stats(df).collect()
    assert [r["doc_id"] for r in rows] == [6]
    assert rows[0]["n_tokens"] == 4


def _ref_repetition_stats(df):
    """Pure-Python repetition_stats over the JVM ``tokens()`` array:
    sorted (doc_id, n, distinct/n, top token count/n, top bigram
    count/bigram count), where a 1-token doc is its own single gram;
    docs with no tokens emit nothing."""
    from collections import Counter

    from rehiver_spark.operators.textops import tokens

    out = []
    for r in df.select("doc_id", tokens("text").alias("tk")).collect():
        tk = r["tk"] or []
        n = len(tk)
        if n == 0:
            continue
        grams = list(zip(tk, tk[1:])) or [tuple(tk)]
        out.append((
            r["doc_id"], n, len(set(tk)) / n,
            max(Counter(tk).values()) / n,
            max(Counter(grams).values()) / len(grams),
        ))
    return sorted(out)


def test_repetition_stats_arrow_equals_expr(spark):
    """The round-8 Arrow repetition kernel (JVM-normalized text →
    split/factorize/np.unique stats) must reproduce the pure-Python
    reference over the JVM ``tokens()`` array bit-for-bit on the real
    corpus plus the edge rows: empty / null / ASCII-whitespace-only
    docs emit nothing (the rlike gate), 1-token docs take
    top_bigram_frac 1.0 (word_ngrams' short-text rule), repeated
    multi-space/tab runs collapse identically, and astral chars ride
    through the JVM normalization untouched."""
    from rehiver_spark.operators.textops import repetition_stats

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (900001, "one"),              # 1 token → bigram frac 1.0
            (900002, ""),                 # no row
            (900003, None),               # no row
            (900004, "\t\n \x0b\f\r"),    # ASCII-ws only: no row
            (900005, "a a a b"),          # top token 3/4, bigram 2/3
            (900006, "  A B   a b  "),    # case-fold + collapse
            (900007, "\U0001F600 \U0001F600 x y x y x y"),
            (900008, "tab\tsep\ttab\tsep"),
            (900009, " "),           # NBSP is \S → one token
        ],
        "doc_id long, text string",
    )
    src = d.unionByName(edge)
    cols = [
        "doc_id", "n_tokens", "distinct_token_ratio",
        "top_token_frac", "top_bigram_frac",
    ]
    key = lambda r: tuple(r[c] for c in cols)  # noqa: E731
    a = sorted(map(key, repetition_stats(src).collect()))
    assert a == _ref_repetition_stats(src)
    got = {r[0]: r for r in a}
    assert not {900002, 900003, 900004} & set(got)
    assert got[900001] == (900001, 1, 1.0, 1.0, 1.0)
    assert got[900005] == (900005, 4, 0.5, 0.75, 2 / 3)
    assert got[900009][1] == 1


def _is_join_form(df):
    """True when a charlm_score result is the relational join fallback
    (the Arrow form's scoring pass is a MapInPandas)."""
    return "MapInPandas" not in df._jdf.queryExecution().executedPlan().toString()


def test_charlm_score_arrow_equals_join(spark, monkeypatch):
    """The round-7 Arrow charlm path (vectorized code-point kernel +
    driver-collected charset²-bounded model, zero corpus-row shuffles)
    must reproduce the join fallback (forced by a zero
    ``_CHARLM_MAX_MODEL_ROWS``) exactly on the real corpus — including
    the HALF_UP 6-decimal rounding (np.round's banker's rounding would
    silently diverge) — plus the edge rows: <2-char docs emit nothing,
    astral chars count as single code points."""
    from rehiver_spark.operators import textops

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (900001, "x"),          # 1 char: no bigram, no row
            (900002, ""),           # empty
            (900003, None),         # null
            (900004, "\U0001F600\U0001F600ab"),  # astral bigrams
        ],
        "doc_id long, text string",
    )
    src = d.unionByName(edge)
    key = lambda r: (r["doc_id"], r["n_bigrams"], r["cross_entropy"])  # noqa: E731
    arrow = textops.charlm_score(src)
    monkeypatch.setattr(textops, "_CHARLM_MAX_MODEL_ROWS", 0)
    join = textops.charlm_score(src)
    assert not _is_join_form(arrow) and _is_join_form(join)
    a = sorted(map(key, arrow.collect()))
    assert a == sorted(map(key, join.collect()))
    ids = {r[0] for r in a}
    assert 900004 in ids and not {900001, 900002, 900003} & ids


def test_charlm_score_arrow_model_guard_falls_back(spark, monkeypatch):
    """A model over ``_CHARLM_MAX_MODEL_ROWS`` (5 bigrams vs 1) forces
    the fallback: charlm_score must return the join form's result
    rather than collecting an unbounded model to the driver."""
    from rehiver_spark.operators import textops

    df = spark.createDataFrame(
        [(1, "abcab"), (2, "xyz")], "doc_id long, text string"
    )
    key = lambda r: (r["doc_id"], r["n_bigrams"], r["cross_entropy"])  # noqa: E731
    arrow = textops.charlm_score(df)
    assert not _is_join_form(arrow)
    monkeypatch.setattr(textops, "_CHARLM_MAX_MODEL_ROWS", 1)
    fallback = textops.charlm_score(df)
    assert _is_join_form(fallback)
    got = sorted(map(key, fallback.collect()))
    assert got == sorted(map(key, arrow.collect()))
