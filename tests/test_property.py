"""Property-based dual-rail tests (hypothesis): every operator that
exists at BOTH driver level (Python re/urllib) and Column level (Java
regex / url_encode) must agree on arbitrary inputs — the two dialects
diverging silently was a round-1 audit finding.

Spark calls are batched: hypothesis generates a case LIST per example
and each example runs ONE collect, keeping runtime sane.
"""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SEG = st.text(alphabet=list(string.ascii_lowercase + string.digits) + [".", "-", "_"], min_size=1, max_size=6)
PATH = st.lists(SEG, min_size=1, max_size=5).map("/".join)

PATTERNS = st.sampled_from(
    [
        "**/*.txt",
        "*",
        "**",
        "a/**/b",
        "**/*.{txt,json}",
        "data/*/x?",
        "[abc]*/**",
        "[!abc]*/**",
        "!**/tmp/**",
        "**/x*",
        "a?c",
    ]
)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(PATH, PATTERNS), min_size=1, max_size=40))
def test_glob_driver_column_agree(spark, cases):
    from rehiver_spark.functions.globs import PathMatcher, glob_match

    m = PathMatcher()
    df = spark.createDataFrame(
        [(p, pat) for p, pat in cases], "path string, pattern string"
    )
    # per distinct pattern, one Column predicate (pattern is a plan-time arg)
    for pat in {pat for _, pat in cases}:
        sub = df.filter(F.col("pattern") == pat)
        got = {
            r["path"]: r["m"]
            for r in sub.select("path", glob_match("path", pat).alias("m")).collect()
        }
        for p, want in ((p, m.is_match(p, pat)) for p, pp in cases if pp == pat):
            assert got[p] == want, (p, pat, want)


DATEDICT = st.fixed_dictionaries(
    {
        "year": st.integers(2000, 2100),
        "month": st.integers(1, 12),
        "day": st.integers(1, 31),
    }
)


@settings(max_examples=25, deadline=None)
@given(DATEDICT)
def test_partition_format_parse_roundtrip(data):
    from rehiver_spark.operators.partitions import date_schema

    sch = date_schema()
    assert sch.parse(sch.format(data)) == data


KEYSEG = st.text(
    alphabet=list(string.ascii_letters + string.digits) + [" ", "%", "+", "=", "#", "&", "é", "日"],
    min_size=1,
    max_size=8,
)
KEY = st.lists(KEYSEG, min_size=1, max_size=4).map("/".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(KEY, min_size=1, max_size=30, unique=True))
def test_s3key_codec_roundtrip_both_rails(spark, keys):
    from rehiver_spark.sources.catalog import (
        decode_s3_key,
        decode_s3_key_col,
        encode_s3_key,
        encode_s3_key_col,
    )

    # driver rail
    for k in keys:
        assert decode_s3_key(encode_s3_key(k)) == k
    # column rail agrees with the driver encoder AND round-trips
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    rows = df.select(
        "key",
        encode_s3_key_col("key").alias("enc"),
        decode_s3_key_col(encode_s3_key_col("key")).alias("rt"),
    ).collect()
    for r in rows:
        assert r["rt"] == r["key"], r
        assert r["enc"] == encode_s3_key(r["key"]), r


_LINE_ENDS = ["\n", "\r", "\u2028"]
_BUCKET_CHARS = list(string.ascii_lowercase + string.digits + ".-_" + string.ascii_uppercase) + _LINE_ENDS
_OCTETS = st.lists(st.integers(0, 9999).map(str), min_size=3, max_size=5).map(".".join)
# near-valid names: a legal-alphabet or IP-shaped core, optionally
# wrapped in a reserved affix and/or followed by one line terminator
# (the case a "$"-anchored pattern lets through)
_NEAR_BUCKET = st.tuples(
    st.sampled_from(["", "", "xn--", "sthree-"]),
    st.one_of(st.text(alphabet=list(string.ascii_lowercase + string.digits + ".-"), max_size=70), _OCTETS),
    st.sampled_from(["", "", "-s3alias", "--ol-s3"]),
    st.sampled_from(["", ""] + _LINE_ENDS),
).map("".join)
BUCKET_NAME = st.one_of(st.text(alphabet=_BUCKET_CHARS, max_size=70), _NEAR_BUCKET).filter(
    lambda n: len(n) <= 70
)


@settings(max_examples=15, deadline=None)
@given(st.lists(BUCKET_NAME, min_size=1, max_size=40))
def test_bucket_name_driver_column_agree(spark, names):
    from rehiver_spark.sources.catalog import is_valid_bucket_name, valid_bucket_name_col

    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {r["name"]: r["ok"] for r in df.select("name", valid_bucket_name_col("name").alias("ok")).collect()}
    for n in names:
        # twice: the memoized verdict must equal the first computation
        assert is_valid_bucket_name(n) == is_valid_bucket_name(n) == got[n], repr(n)


@settings(max_examples=15, deadline=None)
@given(st.lists(PATH, min_size=1, max_size=30))
def test_segment_glob_driver_column_agree(spark, paths):
    from rehiver_spark.functions.globs import segment_glob_match
    from rehiver_spark.operators.partitions import PartitionSchema

    pattern = "year=*/month=*"
    sch = PartitionSchema([])
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    got = {
        r["path"]: r["m"]
        for r in df.select("path", segment_glob_match("path", pattern).alias("m")).collect()
    }
    for p in paths:
        assert got[p] == sch.matches_glob(p, pattern), p


TEXT = st.text(
    alphabet=list(string.ascii_lowercase + string.digits) + [" ", "\t", "\n", "."],
    min_size=0,
    max_size=60,
)


def _py_tokens(t: str) -> list[str]:
    return [x for x in " ".join(t.strip().split()).lower().split(" ") if x]


def _py_ngrams(t: str, k: int) -> list[str]:
    tk = _py_tokens(t)
    if not tk:
        return []
    return [" ".join(tk[i : i + k]) for i in range(max(len(tk) - k + 1, 1))]


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=40), st.integers(min_value=2, max_value=5))
def test_word_ngrams_matches_python_reference(spark, texts, k):
    from rehiver_spark.operators.textops import word_ngrams

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r.i: list(r.g)
        for r in df.select("i", word_ngrams("t", k).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_ngrams(t, k), (t, k)


# multibyte text: 2-, 3- and 4-byte UTF-8 (the last a UTF-16 surrogate
# pair on the JVM), plus whitespace the normalizer collapses
MB_TEXT = st.text(alphabet=list("aé日本ü✓𝄞 \t"), min_size=0, max_size=30)
# NULL, empty, ASCII and multibyte rows, resampled so duplicates dominate
SKETCH_ROWS = st.lists(
    st.one_of(st.none(), TEXT, MB_TEXT), min_size=1, max_size=8
).flatmap(lambda base: st.lists(st.sampled_from(base), min_size=1, max_size=24))


# tabs, newlines, upper case and multibyte letters, short and empty
# rows; no Unicode-only whitespace (Java's \s and Python's split differ
# there by design)
SHINGLE_TEXT = st.text(alphabet=list("abAÉé日本ü✓𝄞 \t\n."), min_size=0, max_size=40)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.one_of(st.none(), SHINGLE_TEXT, TEXT), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=4),
)
def test_shingles_are_distinct_ngrams_with_empty_fallback(spark, texts, k):
    """The one-binding ``shingles`` (tokens computed once per row, one
    SQL string) equals a pure-Python reference — distinct k-grams in
    order, the whole token sequence for rows shorter than k, [""] for a
    tokenless row, NULL for NULL — and reading the text through a
    Column (bound by one more ``transform``) gives the same arrays."""
    from rehiver_spark.operators.dedup import shingles

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = df.select(
        "i", shingles("t", k).alias("g"), shingles(F.col("t"), k).alias("c")
    ).collect()
    for r in got:
        t = texts[r.i]
        if t is None:
            assert r.g is None and r.c is None
            continue
        ng = _py_ngrams(t, k)
        expected = list(dict.fromkeys(ng)) if ng else [""]
        assert list(r.g) == expected == list(r.c), (t, k)


@settings(max_examples=8, deadline=None)
@given(SKETCH_ROWS, st.sampled_from([4, 16]), st.integers(0, 1 << 40))
def test_minhash_sketch_matches_references(spark, texts, num_hashes, seed):
    """shingles → minhash_signature equals the pure-Python md5 affine
    mins of test_dedup.py, and sig_est_jaccard equals a Python count of
    matching components. A NULL text has NULL shingles, so its sketch
    is NULL and its estimate against anything is NULL."""
    from test_dedup import md5_minhash_reference, minhash_rows

    from rehiver_spark.operators.dedup import shingles, sig_est_jaccard

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = df.select("doc_id", shingles("text", 3).alias("_sh")).cache()
    sigs = minhash_rows(sh, num_hashes, seed)
    assert sigs == md5_minhash_reference(sh, num_hashes, seed)

    def py_est(a, b):
        if a is None or b is None:
            return None
        return sum(x == y for x, y in zip(a, b)) / num_hashes

    rows = spark.createDataFrame(list(sigs.items()), "doc_id long, sig array<bigint>")
    got = {
        (r.i, r.j): r.e
        for r in rows.withColumnsRenamed({"doc_id": "i", "sig": "sa"})
        .crossJoin(rows.withColumnsRenamed({"doc_id": "j", "sig": "sb"}))
        .select("i", "j", sig_est_jaccard("sa", "sb", num_hashes).alias("e"))
        .collect()
    }
    assert got == {(i, j): py_est(sigs[i], sigs[j]) for i in sigs for j in sigs}
    sh.unpersist()


FAST_PATTERNS = st.sampled_from(
    ["data/**/*.json", "**/*.txt", "a/b-c/**/*.gz", "year=2024/**/*.parquet"]
)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(PATH, FAST_PATTERNS), min_size=1, max_size=40))
def test_fast_glob_path_equals_regex_path(spark, cases):
    """The startswith/endswith fast path must agree with the compiled
    regex on arbitrary keys for every fast-eligible pattern."""
    from pyspark.sql import functions as F
    from rehiver_spark.functions.globs import glob_match, glob_to_regex, _fast_predicate

    df = spark.createDataFrame(
        [(i, p, pat) for i, (p, pat) in enumerate(cases)], "i long, path string, pat string"
    )
    pats = sorted({pat for _, pat in cases})
    cols = []
    for j, pat in enumerate(pats):
        fast = _fast_predicate(F.col("path"), pat, dot=True, nocase=False)
        assert fast is not None, pat
        cols.append((fast == F.col("path").rlike(glob_to_regex(pat, dot=True))).alias(f"eq{j}"))
    rows = df.select(*cols).collect()
    for r in rows:
        assert all(r), r


@given(
    a=st.integers(-20, 99),
    b=st.integers(-20, 99),
    step=st.integers(1, 7),
    pad=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_brace_range_expansion_matches_python_range(a, b, step, pad):
    from rehiver_spark.functions.globs import expand_braces

    sa, sb = str(a), str(b)
    if pad and a >= 0 and b >= 0:
        w = max(len(sa), len(sb)) + 1
        sa, sb = sa.zfill(w), sb.zfill(w)
    got = expand_braces("{%s..%s..%d}" % (sa, sb, step))
    exp_vals = list(range(a, b + 1, step)) if a <= b else list(range(a, b - 1, -step))
    if pad and a >= 0 and b >= 0:
        exp = [str(v).zfill(max(len(sa), len(sb))) for v in exp_vals]
    else:
        exp = [str(v) for v in exp_vals]
    assert got == exp


@given(
    alts=st.lists(SEG, min_size=1, max_size=3),
    kind=st.sampled_from(["@", "?", "*", "+", "!"]),
    probe=SEG,
)
@settings(max_examples=60, deadline=None)
def test_extglob_regex_compiles_in_both_dialects_and_matches_alts(alts, kind, probe):
    import re as _re

    from rehiver_spark.functions.globs import PathMatcher, glob_to_regex

    pat = kind + "(" + "|".join(alts) + ")"
    r = glob_to_regex(pat, dot=True)
    _re.compile(r)  # Python dialect compiles
    m = PathMatcher(dot=True)
    for alt in alts:
        if kind in "@+*?":
            assert m.is_match(alt, pat), (pat, alt)
        else:  # '!' rejects every exact alternate, accepts a non-alt
            assert not m.is_match(alt, pat), (pat, alt)
    if kind == "!" and probe not in alts:
        assert m.is_match(probe, pat), (pat, probe)


TEXTS = st.lists(
    st.text(alphabet=list(string.ascii_lowercase) + [" "], min_size=0, max_size=30),
    min_size=1,
    max_size=20,
)

# adversarial alphabet for cross-boundary text kernels: ASCII ws (the
# Java \s class), NBSP (\S on Java!), repeated tokens, an astral char,
# a combining mark, and uppercase for the lower() path
HARD_TEXTS = st.lists(
    st.text(
        alphabet=list("ab A\t\n\x0b\f\r") + [" ", "\U0001f600", "́"],
        min_size=0,
        max_size=24,
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(HARD_TEXTS)
def test_repetition_arrow_equals_expr_property(spark, texts):
    """The round-8 Arrow repetition kernel must be bit-identical to the
    pure-Python reference over the JVM ``tokens()`` array on
    ADVERSARIAL text: mixed ASCII whitespace runs (Java \\s), NBSP
    (which Java counts as \\S), astral code points, combining marks,
    case folding, and heavy token repetition."""
    from test_textops import _ref_repetition_stats

    from rehiver_spark.operators.textops import repetition_stats

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    cols = [
        "doc_id", "n_tokens", "distinct_token_ratio",
        "top_token_frac", "top_bigram_frac",
    ]
    key = lambda r: tuple(r[c] for c in cols)  # noqa: E731
    a = sorted(map(key, repetition_stats(df).collect()))
    assert a == _ref_repetition_stats(df)


@settings(max_examples=10, deadline=None)
@given(TEXTS)
def test_incremental_dedup_equals_batch_dedup(spark, texts):
    """Splitting a corpus into (corpus, batch) and running incremental
    dedup must accept exactly the batch texts whose normalized hash is
    unseen — i.e. union(corpus-keepers, accepted) == global keepers in
    hash terms, for ANY split."""
    from rehiver_spark.operators.dedup import (
        dedup_exact,
        dedup_index,
        incremental_exact_dedup,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    corpus = df.filter("doc_id % 2 = 0")
    batch = df.filter("doc_id % 2 = 1")
    out = incremental_exact_dedup(batch, dedup_index(corpus))
    accepted_hashes = {
        r["content_sha"] for r in out.filter("status = 'new'").collect()
    }
    corpus_hashes = {r["content_sha"] for r in dedup_exact(corpus).collect()}
    global_hashes = {r["content_sha"] for r in dedup_exact(df).collect()}
    assert corpus_hashes | accepted_hashes == global_hashes
    assert not (corpus_hashes & accepted_hashes)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.floats(-100, 100, allow_nan=False)),
        min_size=4,
        max_size=50,
    )
)
def test_zorder_value_locality_per_dimension(spark, points):
    """For rows differing ONLY in one dimension, z-order keys must be
    monotone in that dimension's bucket (bit interleave preserves
    per-dimension order), and equal rows get equal keys."""
    from rehiver_spark.sources.writer import zorder_value

    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(points)]
    df = spark.createDataFrame(rows, "id bigint, a double, b double")
    z = df.select("id", "a", "b", zorder_value(df, ["a", "b"], bits=4).alias("z"))
    got = sorted((r["a"], r["b"], r["z"]) for r in z.collect())
    # equal (a, b) -> equal z
    seen = {}
    for a, b, zv in got:
        assert seen.setdefault((a, b), zv) == zv
    # fixing b, z is non-decreasing in a (quantile buckets are monotone)
    from collections import defaultdict

    by_b = defaultdict(list)
    for a, b, zv in got:
        by_b[b].append((a, zv))
    for b, pairs in by_b.items():
        pairs.sort()
        zs = [zv for _, zv in pairs]
        assert all(x <= y for x, y in zip(zs, zs[1:])), (b, pairs)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=5),
            st.floats(min_value=1e-6, max_value=10.0, allow_nan=False),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_split_thresholds_partition_hash_space(weights):
    """The split bands must exactly partition the 60-bit hash space for
    ANY weight vector: strictly increasing upper bounds, last bound
    pinned at 2^60 (rounding can never leave a key unassigned), and
    each band's width proportional to its normalized weight."""
    from rehiver_spark.operators.textops import split_thresholds

    bounds = split_thresholds(weights)
    assert len(bounds) == len(weights)
    assert bounds[-1][1] == 1 << 60
    ubs = [b for _, b in bounds]
    assert all(0 <= a <= b for a, b in zip(ubs, ubs[1:]))
    total = sum(w for _, w in weights)
    lo = 0
    for (_, ub), (_, w) in zip(bounds, weights):
        frac = (ub - lo) / float(1 << 60)
        assert abs(frac - w / total) < 1e-6 + 1.0 / (1 << 59)
        lo = ub


# -- X57 substring dedup vs the pure-Python reference ----------------------

# tiny vocab → dense duplication and repeated-symbol runs; "日本" is a
# multibyte token whose lowercase is itself, so Spark's and Python's
# lower() agree on it
_VOCAB = ["aa", "bb", "cc", "dd", "ee", "ff", "日本"]
_DOC = st.lists(
    st.sampled_from(_VOCAB), min_size=0, max_size=40
).map(" ".join)


@settings(max_examples=20, deadline=None)
@given(st.lists(_DOC, min_size=2, max_size=10).map(lambda ds: ds + [None]))
def test_dedup_substrings_matches_reference_property(spark, docs):
    """For ANY corpus (empty and NULL docs, dense duplication,
    multibyte tokens) the exact stride-1 substring dedup must equal
    the pure-Python keep-first reference on every output field of
    every doc. L = 3 keeps cut intervals followed by surviving tokens
    common at hypothesis's short list sizes, so an interval-boundary
    slip fails within a run."""
    from test_textops import _ref_dedup_substrings

    from rehiver_spark.operators.textops import dedup_substrings

    L = 3
    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["cleaned_text"],
            r["n_tokens_before"],
            r["n_tokens_after"],
            r["n_cut_spans"],
        )
        for r in dedup_substrings(df, window_tokens=L).collect()
    }
    assert got == _ref_dedup_substrings(rows, L)


# -- BPE merge_once: classical sequential greedy on RANDOM sequences --------

_SYM = st.sampled_from(["a", "b", "ab", "c"])


def _ref_greedy(syms, pair):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@settings(max_examples=12, deadline=None)
@given(
    st.lists(st.lists(_SYM, min_size=0, max_size=12), min_size=1, max_size=8),
    st.tuples(_SYM, _SYM),
)
def test_merge_once_equals_classical_greedy_random(spark, seqs, pair):
    """The space-doubling literal replace must equal the classical
    left-to-right greedy merge on arbitrary symbol sequences and
    arbitrary pairs — including self-pairs over long runs and symbols
    ('ab') that are concatenations of other symbols (the adversarial
    boundary case for literal string matching)."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.bpe import merge_once

    rows = [(i, " " + " ".join(s) + " " if s else "  ") for i, s in enumerate(seqs)]
    df = spark.createDataFrame(rows, "i long, s string")
    got = {
        r["i"]: [t for t in r["m"].split(" ") if t]
        for r in df.select(
            "i", merge_once(F.col("s"), pair[0], pair[1]).alias("m")
        ).collect()
    }
    for i, s in enumerate(seqs):
        assert got[i] == _ref_greedy(s, pair), (s, pair)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.booleans(),
    st.integers(0, 2**32 - 1),
)
def test_jpeg_codec_roundtrip_property(w, h, gray, seed):
    """encode_baseline(q=100) → decode_baseline recovers every pixel
    within ±4 (all-ones quant table: DCT roundoff is the only loss; the
    analytic worst case of ±0.5-per-coefficient rounding plus YCbCr
    mixing is ~3.5, so ±2 is only empirical — the fixed-seed unit test
    keeps the tight bound) for arbitrary dims — including
    non-multiple-of-8 and 1-pixel edges — in both grayscale and RGB."""
    import numpy as np

    from rehiver_spark.functions.jpeg import decode_baseline, encode_baseline

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    gw, gh, nc, out = decode_baseline(encode_baseline(img, quality=100))
    assert (gw, gh) == (w, h) and nc == (1 if gray else 3)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 4


@settings(max_examples=20, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.booleans(),
    st.sampled_from([100, 92, 60]),
    st.integers(0, 2**32 - 1),
)
def test_jpeg_progressive_equals_baseline_property(w, h, gray, q, seed):
    """encode_progressive shares encode_baseline's quantized
    coefficients, so decode_jpeg(progressive) must be BIT-IDENTICAL to
    decode_baseline(baseline) for arbitrary dims, both color modes and
    every quality — pinning all four progressive scan paths (r12)."""
    import numpy as np

    from rehiver_spark.functions.jpeg import (
        decode_baseline,
        decode_jpeg,
        encode_baseline,
        encode_progressive,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    p = decode_jpeg(encode_progressive(img, quality=q))
    b = decode_baseline(encode_baseline(img, quality=q))
    assert p[:3] == b[:3]
    assert np.array_equal(p[3], b[3])


@settings(max_examples=50, deadline=None)
@given(st.integers(0, 1 << 40), st.integers(0, 7), st.sampled_from([60, 64]))
def test_adaptive_match_blocks_properties(n, h, sig_bits):
    """The simhash k dial is monotone in n, clamped to [1, 5], and —
    below the clamp — always wide enough: the k-subset key carries at
    least bit_length(n-1)+slack bits."""
    from rehiver_spark.operators.dedup import adaptive_match_blocks

    k = adaptive_match_blocks(n, h, sig_bits)
    assert 1 <= k <= 5
    assert adaptive_match_blocks(n * 2 + 1, h, sig_bits) >= k  # monotone
    if k < 5:
        need = max(n - 1, 1).bit_length() + 2
        assert k * sig_bits // (h + k) >= need


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=0,
        max_size=40,
    ),
    st.booleans(),
)
def test_connected_components_impls_agree_property(spark, edges, as_str):
    """Driver and distributed CC are the same fixpoint on arbitrary
    small graphs — int and string ids both (string exercises the r11
    join-based convergence path). ``cc_rows`` forces each branch with
    ``unittest.mock.patch.object``: monkeypatch is function-scoped and
    trips hypothesis's health check."""
    from test_dedup import cc_rows

    if as_str:
        rows = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges]
        schema = "id_a string, id_b string"
    else:
        rows = edges
        schema = "id_a long, id_b long"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame(
        [], schema
    )
    assert cc_rows("driver", df) == cc_rows("distributed", df)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.text(alphabet="abcde ", min_size=0, max_size=60), min_size=1, max_size=8),
    st.integers(1, 9),
)
def test_winnow_cascade_matches_python_reference(spark, texts, window):
    """The r11 doubling-cascade sliding min must equal the naive
    per-window min for EVERY window width, including w=1 and widths
    that are not powers of two (the cascade's step math is the risky
    part) — checked against a pure-Python winnow reference."""
    from rehiver_spark.functions.hashing import md5_hash60_py
    from rehiver_spark.operators.textops import winnow_fingerprints

    k = 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(
            df, k=k, window=window, hash_fn="md5"
        ).collect()
    }

    def norm(t):  # mirror normalize_text: lower + collapse whitespace
        return " ".join(t.lower().split())

    want = set()
    for i, t in enumerate(texts):
        nt = norm(t)
        grams = (
            [nt[j : j + k] for j in range(len(nt) - k + 1)]
            if len(nt) >= k
            else [nt]
        )
        hs = [md5_hash60_py(g) for g in grams]
        n_windows = max(len(hs) - window + 1, 1)
        for j in range(n_windows):
            want.add((i, min(hs[j : j + window])))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet=list("ab "), min_size=0, max_size=40),
        min_size=2,
        max_size=24,
    ),
    st.sampled_from([0.5, 0.7, 0.8]),
)
def test_minhash_est_gate_subset_property(spark, texts, threshold):
    """The r12 estimate pre-filter is a SUBSET filter on arbitrary
    corpora and thresholds: every returned pair is an exact
    above-threshold pair with its exact score, against a pure-Python
    all-pairs Jaccard over the same shingles (the gate can only ever
    REMOVE candidates, never corrupt scores, on adversarial tiny/dup/
    empty-text inputs hypothesis loves)."""
    from test_dedup import _py_jaccard_pairs

    from rehiver_spark.operators.dedup import minhash_neardup_pairs, shingles

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    rows = [
        (r["doc_id"], r["sh"])
        for r in df.select("doc_id", shingles("text", 3).alias("sh")).collect()
    ]
    exact = _py_jaccard_pairs(rows, threshold)
    gated = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_neardup_pairs(df, threshold=threshold).collect()
    }
    assert set(gated) <= set(exact)
    for k, v in gated.items():
        assert v == exact[k][3] and v >= threshold


# Values at the hive-partition rail boundary: signs, `_`, non-ASCII
# digits, %-escapes (well-formed, lone and malformed), `+`, `=`, a raw
# newline, the literal `null` and the empty string
PART_ATOMS = [
    "0", "1", "12", "13", "31", "32", "2024", "1999", "2147483648",
    "-", "+", "_", "٣", "５", "%33", "%2B", "%2D", "%20", "%09", "%0A",
    "%2F", "%D9%A3", "%D9", "%25", "%", "%zz", "=", "\n", "null", "",
]


def _good_values(f):
    """Values that satisfy field ``f`` on both rails, so that the keys
    drawn below are valid often enough to compare typed values."""
    if f.values is not None:
        return f.values
    if f.pattern is not None:
        return ["2024-03-05"]
    if f.dtype == "int":
        lo = -(1 << 31) if f.min is None else f.min
        hi = (1 << 31) - 1 if f.max is None else f.max
        return [v for v in ("1", "05", "12", "2024", "+7", " 9") if lo <= int(v) <= hi]
    return ["web", "a+b", "x%20y"]


@st.composite
def _hive_keys(draw, fields):
    names = [f.name for f in fields]
    junk = st.lists(st.sampled_from(PART_ATOMS), max_size=3).map("".join)

    def value(f):
        kind = draw(st.integers(0, 3))  # good, good + junk suffix, or junk
        good = draw(st.sampled_from(_good_values(f)))
        return good if kind < 2 else good + draw(junk) if kind == 2 else draw(junk)

    # ~1 in 8 fields missing; then duplicated and extra segments
    segs = [(f.name, value(f)) for f in fields if draw(st.integers(0, 7))]
    extra = st.tuples(st.sampled_from(names + ["x"]), junk)
    for seg in draw(st.lists(extra, max_size=2)):
        segs.insert(draw(st.integers(0, len(segs))), seg)
    prefix = draw(st.sampled_from(["", "data/"]))
    return prefix + "/".join(f"{n}={v}" for n, v in segs)


@pytest.mark.parametrize("schema", ["date_schema", "analytics_schema", "log_schema"])
@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_partition_apply_matches_safe_parse(spark, schema, data):
    """The Column rail (``apply``) and the driver rail (``safe_parse``)
    agree on every key: ``_valid`` equals the driver verdict, the typed
    values equal the parsed dict on valid keys, and the pushed
    ``filter("_valid")`` returns exactly the projected valid rows."""
    from rehiver_spark.operators import partitions

    sch = getattr(partitions, schema)()
    keys = data.draw(st.lists(_hive_keys(sch.fields), min_size=1, max_size=25, unique=True))
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    parsed = sch.apply(df, "key")
    rows = {r["key"]: r for r in parsed.collect()}
    for k in keys:
        ok, want = sch.safe_parse(k)
        r = rows[k]
        assert r["_valid"] == ok, (k, want)
        if ok:
            assert {f: r[f] for f in sch.keys} == {f: want.get(f) for f in sch.keys}, k
    filtered = sorted(map(tuple, parsed.filter("_valid").collect()))
    assert filtered == sorted(tuple(r) for r in rows.values() if r["_valid"])
