"""Distributed BPE (operators/bpe.py) vs a pure-Python reference
implementation of the published algorithm (Sennrich et al. 2016):
learned merge tables must match EXACTLY (same pairs, same order, same
frequencies), segmentation must match per word, and the two-pass
literal-replace merge must reproduce classical sequential greedy merge
semantics on the adversarial overlap cases."""

import collections

import pytest
from pyspark.sql import functions as F

from rehiver_spark.operators.bpe import (
    apply_merges,
    learn_bpe,
    merge_once,
    pair_counts,
    spaced,
    word_freqs,
)

# ---------------------------------------------------------------------------
# Pure-Python reference: the classical algorithm, verbatim semantics
# ---------------------------------------------------------------------------


def ref_word_symbols(word):
    return list(word) + ["</w>"]


def ref_pair_counts(vocab):
    counts = collections.Counter()
    for syms, freq in vocab:
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] += freq
    return counts


def ref_merge_word(syms, pair):
    """Sequential greedy left-to-right non-overlapping merge."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def ref_learn(texts, num_merges, min_freq=2):
    from rehiver_spark.operators.textops import tokens  # noqa: F401

    words = collections.Counter()
    for t in texts:
        words.update((t or "").lower().split())
    vocab = [(ref_word_symbols(w), f) for w, f in words.items()]
    merges = []
    for _ in range(num_merges):
        counts = ref_pair_counts(vocab)
        if not counts:
            break
        # tie-break: freq desc, then lexicographic pair asc
        pair, freq = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < min_freq:
            break
        merges.append((pair[0], pair[1], freq))
        vocab = [(ref_merge_word(s, pair), f) for s, f in vocab]
    return merges


def ref_segment(word, merges):
    syms = ref_word_symbols(word)
    for left, right in merges:
        syms = ref_merge_word(syms, (left, right))
    return syms


# ---------------------------------------------------------------------------
# Corpus fixture: lowercase space-separated texts (matches tokens())
# ---------------------------------------------------------------------------

TEXTS = [
    "low low low lower lowest",
    "new newer newest new new",
    "wide wider widest wide",
    "a aa aaa aaaa a aa",
    "the quick brown fox jumps over the lazy dog",
    "the the the banana bandana",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string")


def test_merge_once_matches_sequential_greedy_on_overlaps(spark):
    """The adversarial cases for the literal-replace merge: runs of
    the same symbol (incl. length 5/6/7, where the earlier two-pass
    form diverged from classical greedy — the r5 advisor finding),
    and alternating pairs sharing delimiters."""
    cases = [
        "a a a", "a a a a", "a a a a a", "a a a a a a", "a a a a a a a",
        "a b a b", "a b a b a b", "a a b a a", "b a a a b",
        "b a a a a a c", "a a a b a a a a a",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {
        r["s"]: r["m"]
        for r in df.select(
            "s", merge_once(F.concat(F.lit(" "), "s", F.lit(" ")), "a", "a").alias("m")
        ).collect()
    }
    for c in cases:
        expect = " " + " ".join(ref_merge_word(c.split(" "), ("a", "a"))) + " "
        assert got[c] == expect, c


def test_pair_counts_match_reference(spark, docs):
    vocab = word_freqs(docs).withColumn("spaced", spaced(F.col("word")))
    got = {
        (r["left_sym"], r["right_sym"]): r["pair_freq"]
        for r in pair_counts(vocab).collect()
    }
    words = collections.Counter(w for t in TEXTS for w in t.split())
    expect = ref_pair_counts([(ref_word_symbols(w), f) for w, f in words.items()])
    assert got == dict(expect)


def test_learn_bpe_matches_reference_exactly(spark, docs, monkeypatch):
    from rehiver_spark.operators import bpe

    monkeypatch.setattr(bpe, "_CHECKPOINT_EVERY", 4)
    got = learn_bpe(docs, num_merges=12, min_freq=2)
    expect = ref_learn(TEXTS, 12, min_freq=2)
    assert [(m["left_sym"], m["right_sym"], m["pair_freq"]) for m in got] == expect
    assert [m["rank"] for m in got] == list(range(len(got)))
    assert all(m["merged"] == m["left_sym"] + m["right_sym"] for m in got)


def test_apply_merges_matches_reference_segmentation(spark, docs):
    merges = [(m["left_sym"], m["right_sym"]) for m in learn_bpe(docs, 10)]
    seg = apply_merges(docs, merges)
    got = {r["doc_id"]: r["bpe_symbols"] for r in seg.collect()}
    for i, t in enumerate(TEXTS):
        expect = [s for w in t.split() for s in ref_segment(w, merges)]
        assert got[i] == expect, f"doc {i}"


def test_learn_on_real_corpus_matches_reference(spark, sf_dir):
    """End-to-end on the sf0.001 documents table — the distributed
    learner and the in-memory reference must produce the identical
    merge table."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r["text"] for r in d.select("text").collect()]
    # normalize the same way tokens() does (trim + whitespace collapse
    # + lowercase); the reference splits on single spaces
    import re

    norm = [re.sub(r"\s+", " ", (t or "").strip()).lower() for t in texts]
    got = learn_bpe(d, num_merges=8)
    expect = ref_learn(norm, 8)
    assert [(m["left_sym"], m["right_sym"], m["pair_freq"]) for m in got] == expect


def test_apply_merges_is_map_only(spark, docs):
    """Segmentation must not shuffle: the plan has no Exchange."""
    plan = apply_merges(docs, [("l", "o"), ("lo", "w")])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_astral_plane_words_split_as_single_code_points(spark):
    """r6 verdict task: the bpe.py caveat claimed the ``(.)`` split
    breaks a UTF-16 surrogate pair into two code units on the JVM.
    Measured FALSE — java.util.regex is code-point-aware (a
    supplementary character matches ``.`` as ONE unit), and DuckDB's
    RE2 agrees, so non-BMP corpora train identically on both engines.
    Pins spaced() and its SQL twin on astral-plane words."""
    import duckdb

    from rehiver_spark.operators.bpe import spaced_sql

    words = ["a\U0001F600b", "\U0001D11E\U0001D11E", "\U00013000x\U00013001"]
    got = (
        spark.createDataFrame([(w,) for w in words], "w string")
        .select(spaced(F.col("w")).alias("s"))
        .collect()
    )
    for w, row in zip(words, got):
        expect = " " + " ".join(list(w) + ["</w>"]) + " "
        assert row["s"] == expect, repr(w)
        ddb = duckdb.sql(
            f"SELECT {spaced_sql('?')} AS s", params=[w]
        ).fetchone()[0]
        assert ddb == expect, f"DuckDB twin diverged on {w!r}"


def test_learn_on_astral_corpus_matches_reference(spark):
    """End-to-end: learning on a corpus of supplementary-plane words
    (emoji runs — including self-pair merges OF an astral symbol)
    matches the pure-Python reference, whose list(word) split is
    code-point semantics by construction."""
    texts = [
        "\U0001F600\U0001F600\U0001F600 \U0001F600\U0001F600 go",
        "\U0001F600\U0001F600\U0001F600\U0001F600 go go",
        "\U0001D11Eclef \U0001D11Eclef music",
    ]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = learn_bpe(d, num_merges=6)
    expect = ref_learn(texts, 6)
    assert [(m["left_sym"], m["right_sym"], m["pair_freq"]) for m in got] == expect
    merges = [(m["left_sym"], m["right_sym"]) for m in got]
    seg = {r["doc_id"]: r["bpe_symbols"] for r in apply_merges(d, merges).collect()}
    for i, t in enumerate(texts):
        assert seg[i] == [s for w in t.split() for s in ref_segment(w, merges)]


# ---------------------------------------------------------------------------
# Round-9 multi-merge batching: exactness under interaction (verdict task 5)
# ---------------------------------------------------------------------------


def ref_learn_batched(texts, num_merges, min_freq=2, probe=256):
    """Driver-side simulation of the batched learner: classical
    machinery (ref_pair_counts / ref_merge_word) with merge selection
    routed through ``_accept_batch`` and each batch applied
    SEQUENTIALLY — so equality with ref_learn isolates exactly the
    acceptance logic's claim that the batch prefix equals the
    classical order."""
    from rehiver_spark.operators.bpe import END_OF_WORD, _accept_batch

    words = collections.Counter()
    for t in texts:
        words.update((t or "").lower().split())
    vocab = [(ref_word_symbols(w), f) for w, f in words.items()]
    merges = []
    multi = {END_OF_WORD}
    rounds = 0
    while len(merges) < num_merges:
        counts = ref_pair_counts(vocab)
        rows = [
            {"left_sym": l, "right_sym": r, "pair_freq": f}
            for (l, r), f in sorted(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
        ][:probe]
        batch = _accept_batch(rows, len(merges), num_merges, min_freq, probe, multi)
        if not batch:
            break
        rounds += 1
        for q in batch:
            pair = (q["left_sym"], q["right_sym"])
            merges.append((pair[0], pair[1], q["pair_freq"]))
            multi.add(pair[0] + pair[1])
            vocab = [(ref_merge_word(s, pair), f) for s, f in vocab]
    return merges, rounds


def test_accept_batch_unit_cases():
    from rehiver_spark.operators.bpe import _accept_batch

    def rows(*triples):
        return [
            {"left_sym": l, "right_sym": r, "pair_freq": f}
            for l, r, f in triples
        ]

    P, M = 256, {"</w>"}
    key = lambda q: (q["left_sym"], q["right_sym"])  # noqa: E731

    # fully disjoint, well-separated: all accepted in one round
    got = _accept_batch(
        rows(("a", "b", 10), ("c", "d", 9), ("e", "f", 8)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "b"), ("c", "d"), ("e", "f")]

    # a DESTABILIZED candidate stops the batch: left == accepted right
    # ((a,b) consumes b, so (b,c) occurrences may be destroyed)
    got = _accept_batch(
        rows(("a", "b", 10), ("b", "c", 9), ("e", "f", 8)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "b")]
    # ...and right == accepted left ((x,a) occurrences may be destroyed)
    got = _accept_batch(
        rows(("a", "b", 10), ("x", "a", 9), ("e", "f", 8)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "b")]

    # sharing a LEFT symbol is count-stable: merging (e, w) only
    # consumes e's followed by w, so (e, r) keeps its exact count —
    # both accepted in one round (the English '</w>'-heavy regime)
    got = _accept_batch(
        rows(("e", "w", 10), ("e", "r", 9), ("i", "n", 8)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("e", "w"), ("e", "r"), ("i", "n")]
    # sharing a RIGHT symbol is count-stable too
    got = _accept_batch(
        rows(("e", "w", 10), ("g", "w", 9)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("e", "w"), ("g", "w")]
    # self-pair interactions: (e,e) is destabilized by (e,w) (an e
    # followed by w is consumed, destroying a preceding (e,e) pair)
    got = _accept_batch(
        rows(("e", "w", 10), ("e", "e", 9)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("e", "w")]

    # new-pair outrank TIE: (x, a) touches the accepted (a, b) at the
    # same count as candidate (c, d) — after merging, (x, ab) could
    # hold count 8 and win the classical tie-break, so (c, d) must be
    # trimmed even though it is symbol-disjoint
    got = _accept_batch(
        rows(("a", "b", 10), ("c", "d", 8), ("x", "a", 8)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "b")]
    # ...but a STRICTLY larger disjoint candidate survives the bound
    got = _accept_batch(
        rows(("a", "b", 10), ("c", "d", 9), ("x", "a", 8)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "b"), ("c", "d")]

    # spelling collision with a live multi-char symbol: batch closes
    # after the argmax (which always applies — classical does too)
    got = _accept_batch(
        rows(("a", "b", 10), ("c", "d", 9)), 0, 16, 2, P, {"</w>", "ab"}
    )
    assert [key(q) for q in got] == [("a", "b")]
    # collision of a LATER candidate's spelling stops before it
    got = _accept_batch(
        rows(("a", "b", 10), ("c", "d", 9)), 0, 16, 2, P, {"</w>", "cd"}
    )
    assert [key(q) for q in got] == [("a", "b")]

    # probe-tail bound: with the window full, candidates at the tail
    # count are not provably ahead of uncollected pairs
    got = _accept_batch(
        rows(("a", "b", 10), ("c", "d", 9), ("e", "f", 9)), 0, 16, 2, 3, M
    )
    assert [key(q) for q in got] == [("a", "b")]

    # num_merges budget truncates the batch
    got = _accept_batch(
        rows(("a", "b", 10), ("c", "d", 9), ("e", "f", 8)), 15, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "b")]

    # min_freq ends the batch but never the argmax
    got = _accept_batch(
        rows(("a", "b", 10), ("c", "d", 1)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "b")]
    assert _accept_batch(rows(("a", "b", 1)), 0, 16, 2, P, M) == []

    # SELF-pair closes the batch after itself (r10 advisor, high):
    # merging (a,a) creates (aa,aa) whose source pair is the accepted
    # pair ITSELF, so its count is invisible to the pass-2 bound —
    # (aa,aa) can classically outrank any later candidate. Argmax
    # self-pair applies alone...
    got = _accept_batch(
        rows(("a", "a", 100), ("c", "d", 30), ("e", "f", 20)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "a")]
    # ...and a mid-batch self-pair is the batch's LAST member
    got = _accept_batch(
        rows(("a", "b", 10), ("e", "e", 9), ("g", "h", 8)), 0, 16, 2, P, M
    )
    assert [key(q) for q in got] == [("a", "b"), ("e", "e")]


def test_batched_selection_matches_classical_on_random_corpora():
    """Property test: on hundreds of adversarial corpora (tiny
    alphabets force heavy merge interaction — self-pair runs, chained
    merges, spelling collisions), the batched selection must produce
    the byte-identical classical merge table. Pure driver-side, so
    the search is wide."""
    import random

    for seed in range(300):
        rng = random.Random(seed)
        alpha = "ab" if seed % 3 == 0 else ("abc" if seed % 3 == 1 else "abcd")
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(2, 10))
        ]
        text = " ".join(
            w for w in words for _ in range(rng.randint(1, 5))
        )
        expect = ref_learn([text], 12, min_freq=2)
        got, rounds = ref_learn_batched([text], 12, min_freq=2)
        assert got == expect, f"seed {seed}: {got} != {expect}"
        assert rounds <= max(1, len(got)), seed


def test_batched_selection_on_self_pair_run_corpora():
    """The r10 advisor's repro class: a dominant single-symbol RUN
    plus disjoint mid-frequency pairs. Merging the run's self-pair
    (a,a) creates (aa,aa) whose source pair is the accepted pair
    itself, so batching anything after it is unsound — the old pass-2
    bound skipped accepted pairs and lost exactly this case. The 300-
    seed sweep above never hits it (words ≤ 6 chars); pin the repro
    and a directed sweep of run-length × pair-frequency layouts."""
    import random

    repro = ["aaaaaa"] * 20 + ["cd"] * 10 + ["cdx"] * 10 + ["cdy"] * 10
    expect = ref_learn(repro, 12, min_freq=2)
    got, _ = ref_learn_batched(repro, 12, min_freq=2)
    assert got == expect, f"advisor repro: {got[:4]} != {expect[:4]}"

    for seed in range(60):
        rng = random.Random(1000 + seed)
        run = "a" * rng.randint(4, 12)
        texts = (
            [run] * rng.randint(5, 30)
            + ["cd"] * rng.randint(2, 25)
            + ["ef" * rng.randint(1, 3)] * rng.randint(2, 25)
            + ["bbb"] * rng.randint(0, 15)
        )
        rng.shuffle(texts)
        expect = ref_learn(texts, 12, min_freq=2)
        got, _ = ref_learn_batched(texts, 12, min_freq=2)
        assert got == expect, f"seed {seed}: {got} != {expect}"


def test_learn_bpe_batched_equals_sequential_probe(spark, docs, monkeypatch):
    """End-to-end on Spark: the batched default and a one-pair probe
    (the strict sequential rounds) must emit the identical merge table
    (both equal the classical reference)."""
    from rehiver_spark.operators import bpe

    batched = learn_bpe(docs, num_merges=12, min_freq=2)
    monkeypatch.setattr(bpe, "_PROBE_PAIRS", 1)
    seq = learn_bpe(docs, num_merges=12, min_freq=2)
    assert batched == seq
    expect = ref_learn(TEXTS, 12, min_freq=2)
    assert [
        (m["left_sym"], m["right_sym"], m["pair_freq"]) for m in batched
    ] == expect


def test_learn_bpe_batched_on_interaction_heavy_corpus(spark):
    """Spark end-to-end on a deliberately interaction-heavy corpus
    (binary alphabet, long self-pair runs, colliding spellings like
    (a,aa)/(aa,a) -> 'aaa'): the batch must degrade to whatever prefix
    stays provable and still reproduce the classical table exactly."""
    import random

    rng = random.Random(7)
    texts = [
        " ".join(
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 7)))
            for _ in range(12)
        )
        for _ in range(5)
    ] + ["aaaa aaa aa aaaa aaaaa", "abab abab ab abab"]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = learn_bpe(d, num_merges=10)
    expect = ref_learn(texts, 10)
    assert [
        (m["left_sym"], m["right_sym"], m["pair_freq"]) for m in got
    ] == expect
