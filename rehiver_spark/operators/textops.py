"""Text analysis operators for LLM-data pipelines (SURVEY §2 X4/X5).

Charter extension set (BASELINE.json north star) — the reference has no
text operators (its `processor` callback, /root/reference/src/index.ts:1382,
delegates content handling to the user); these are the Spark-native
operators a 100 TB training-data pipeline runs over document tables.

Everything here is built-in Column expressions (whole-stage codegen, no
Python on executors). Formulas avoid ANSI-mode hazards: no division by a
possibly-zero denominator, no lossy casts.

Canonical tokenization is whitespace-split over lowercased text — chosen
so every operator has an exact DuckDB twin for the correctness oracle.
A BPE-ish regex tokenizer is provided for realistic token counting.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rehiver_spark.session import ensure_parallelism, track_persist

# Small fixed stopword set (ordering matters only for docs)
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# per-language stopword profiles for the n-gram/stopword language-ID
# heuristic; first-listed language wins score ties (deterministic)
LANG_PROFILES: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "an", "and", "of", "to", "in", "is"]),
    ("de", ["der", "die", "das", "und", "nicht", "ist", "ein"]),
    ("fr", ["le", "la", "les", "et", "est", "une", "des"]),
    ("es", ["el", "la", "los", "y", "es", "una", "que"]),
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _in_words(t: Column, words: list[str]) -> Column:
    """Membership test usable inside higher-order-function lambdas.

    OR-of-string-equality chain. NOTE: pyspark binds one lambda variable
    per *parameter* of the Python lambda, so HOF lambdas must be
    single-parameter — capture ``words`` via this closure, never via a
    default argument (``lambda t, w=words: ...`` silently binds ``w`` to
    the element-index variable).
    """
    cond = t == F.lit(words[0])
    for w in words[1:]:
        cond = cond | (t == F.lit(w))
    return cond


def _word_filter(words: list[str]):
    return lambda t: _in_words(t, words)


def normalize_text(col: Column | str) -> Column:
    """Canonical normal form: trim, collapse whitespace, lowercase."""
    return F.lower(F.regexp_replace(F.trim(_c(col)), r"\s+", " "))


def sql_name(name: str) -> str:
    """Backquoted Spark SQL identifier of the top-level column ``name``.

    The text and sketch builders render their whole expression as ONE
    Spark SQL string and make a single ``F.expr`` call: built node by
    node through the Column API, each function application costs ~10-25
    py4j round trips (``tokens`` alone made 77), and the sketch
    expressions cost ~1.9k of the ~2.9k round trips of a
    ``minhash_neardup_pairs`` plan — a fixed 0.2–0.5 s of driver time
    per call at any corpus size. A Column cannot be spliced into SQL
    text, hence names."""
    if not isinstance(name, str):
        raise TypeError(f"expected a column name (str), got {type(name).__name__}")
    return "`" + name.replace("`", "``") + "`"


def sql_on(col: Column | str, body: Callable[[str], str]) -> Column:
    """The Spark SQL expression ``body(s)`` over the value of ``col``.

    A column NAME is spliced in as ``s`` and the whole expression is one
    ``F.expr`` call (see :func:`sql_name`). Any other Column is bound to
    the lambda variable ``s`` by a one-element ``transform``, so the SQL
    text is the same either way. Use it for expressions that already
    run interpreted (higher-order functions): the binding would take a
    code-generated expression off whole-stage codegen."""
    if isinstance(col, str):
        return F.expr(body(sql_name(col)))
    return F.call_function("transform", F.array(col), F.expr(f"s -> {body('s')}"))[0]


def _tokens_sql(s: str) -> str:
    """Spark SQL text of :func:`tokens` over the string expression ``s``
    (its normalization is :func:`normalize_text`'s)."""
    return f"filter(split(lower(regexp_replace(trim({s}), '\\\\s+', ' ')), ' '), w -> w != '')"


def tokens(col: Column | str) -> Column:
    """ARRAY<STRING> of whitespace tokens of the normalized text.
    Empty text → empty array (never a [''] singleton); NULL → NULL."""
    return sql_on(col, _tokens_sql)


def on_tokens(col: Column | str, body: str) -> Column:
    """The Spark SQL expression ``body``, over the lambda variable ``t``,
    evaluated on the :func:`tokens` array of ``col``.

    The token array is computed ONCE per row: a one-element
    ``transform`` binds it to ``t``, so every ``size(t)``/``slice(t, …)``
    in ``body`` reads the bound array. Written out inline, the n-gram
    construction evaluated the regexp/split/filter chain ~6 times per
    row (Spark does not eliminate common subexpressions across
    higher-order-function arguments). One SQL string (:func:`sql_on`)."""
    return sql_on(col, lambda s: f"transform(array({_tokens_sql(s)}), t -> {body})[0]")


def ngrams_sql(t: str, k: int) -> str:
    """Spark SQL text of the word k-grams of the token-array expression
    ``t`` (see :func:`word_ngrams`): k-1 ``zip_with`` passes over
    shifted copies of ``t`` (each O(n), the NULL tail skipped by
    ``concat_ws``) — no per-position slice calls. ``t`` is read k times,
    so pass a bound variable (:func:`on_tokens`), not an expression."""
    out = t
    for i in range(1, k):
        out = (
            f"zip_with({out}, slice({t}, {i + 1}, greatest(size({t}) - {i}, 0)), "
            "(a, b) -> concat_ws(' ', a, b))"
        )
    return f"slice({out}, 1, greatest(size({t}) - {k - 1}, 1))"


def word_ngrams(col: Column | str, k: int = 3) -> Column:
    """ARRAY<STRING> of word k-grams of the normalized text, in order,
    WITH duplicates (dedup.shingles is the distinct-set form).

    Texts shorter than k tokens contribute their whole token sequence
    as one gram; empty text → empty array; NULL text → NULL. The token
    array is computed once per row (:func:`on_tokens`, :func:`ngrams_sql`).
    """
    return on_tokens(col, ngrams_sql("t", k))


def bpe_ish_tokens(col: Column | str) -> Column:
    """Sub-word-ish tokenization: split on word/number/punct boundaries
    (a GPT-2-style pre-tokenizer regex subset). For realistic token
    counting when no tokenizer library is available."""
    t = F.lower(F.trim(_c(col)))
    return F.filter(
        F.split(t, r"(?=[^a-z0-9])|(?<=[^a-z0-9])"),
        lambda x: (x != F.lit("")) & (x != F.lit(" ")),
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def char_stats(col: Column | str) -> dict[str, Column]:
    """Character-class counts over the raw text — alpha/digit/space/punct
    plus total length. regexp_count is codegen'd; one pass per class."""
    c = _c(col)
    n_alpha = F.regexp_count(c, F.lit(r"[A-Za-z]"))
    n_digit = F.regexp_count(c, F.lit(r"[0-9]"))
    n_space = F.regexp_count(c, F.lit(r"\s"))
    n = F.length(c)
    return {
        "n_chars": n,
        "n_alpha": n_alpha,
        "n_digit": n_digit,
        "n_space": n_space,
        "n_punct": n - n_alpha - n_digit - n_space,
    }


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords; 0.0 for empty docs
    (guarded denominator — ANSI mode would throw on /0)."""
    toks = tokens(col)
    sw = stopwords or STOPWORDS
    hits = F.size(F.filter(toks, lambda t: _in_words(t, sw)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite heuristic quality score in [0,1]: rewards word-like
    content, presence of stopwords, and reasonable mean token length.
    Deterministic closed form (no ML), so it is oracle-checkable.

        0.4 * alpha_ratio + 0.3 * min(stopword_ratio * 5, 1)
      + 0.3 * (1 - |mean_token_len - 5| / 10 clamped to [0,1])
    """
    c = _c(col)
    st = char_stats(c)
    alpha_ratio = st["n_alpha"] / F.greatest(st["n_chars"], F.lit(1))
    swr = stopword_ratio(c)
    n_tok = F.greatest(token_count(c), F.lit(1))
    # mean token length over normalized text (spaces removed)
    norm = normalize_text(c)
    mean_len = (F.length(norm) - (n_tok - F.lit(1))) / n_tok
    len_term = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.abs(mean_len - F.lit(5.0)) / F.lit(10.0)
    )
    return (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.3) * F.least(swr * F.lit(5.0), F.lit(1.0))
        + F.lit(0.3) * len_term
    )


def lang_id(col: Column | str, profiles: list[tuple[str, list[str]]] | None = None) -> Column:
    """Stopword-profile language ID: score each language by the number
    of profile-word occurrences; argmax with first-listed-wins ties.

    Implemented as array_max over (score, priority, lang) structs —
    struct comparison is lexicographic, so the max is the highest score
    and, on ties, the earliest profile. Pure Column expression.
    Returns 'und' when no profile word occurs at all.
    """
    toks = tokens(col)
    profs = profiles or LANG_PROFILES
    entries = []
    for i, (lang, words) in enumerate(profs):
        score = F.size(F.filter(toks, _word_filter(words)))
        entries.append(F.struct(score.alias("s"), F.lit(len(profs) - i).alias("p"), F.lit(lang).alias("l")))
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full per-document analysis column set (X4)."""
    df = ensure_parallelism(df)
    c = F.col(text_col)
    out = df.withColumns(char_stats(c))
    return out.withColumns(
        {
            "n_tokens": token_count(c),
            "n_bpe_tokens": F.size(bpe_ish_tokens(c)),
            "stopword_ratio": stopword_ratio(c),
            "quality": quality_score(c),
            "lang_pred": lang_id(c),
        }
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``n_tokens``, ``distinct_token_ratio`` (distinct/total),
    - ``top_token_frac`` (most frequent token's share),
    - ``top_bigram_frac`` (most frequent word bigram's share).

    High top-gram fractions flag boilerplate/spam (repeated nav text,
    keyword stuffing) — the standard pre-training repetition filters.

    Plan: entirely MAP-SIDE — no explode, no shuffle. The stats a doc
    needs are all within-row. The exploded formulation would shuffle
    the full gram multiset on (doc, gram) — keys that are nearly
    unique, so partial aggregation reduces nothing and every token
    crosses the wire; at 100 TB that is the whole corpus re-shuffled
    for a per-row answer. Documents with zero tokens produce no output
    row (nothing to measure).

    Text is normalized JVM-side (``normalize_text`` — trim/``\\s+``
    collapse/lower stay on Java semantics: ASCII-only ``\\s``,
    0x20-only trim, UTF8String lowercasing; nothing Unicode-sensitive
    is re-implemented in Python), then ONE mapInPandas pass splits on
    the single space the normalization guarantees and computes all
    four stats via factorize + np.unique — C-speed hash/sort kernels.

    Semantics:

    - tokens are exactly ``tokens(text)``: the normalized text has
      0x20 as its only separator, so ``str.split(" ")`` + drop-empties
      reproduces the JVM tokenizer;
    - word bigrams are counted as CODE PAIRS of factorized tokens —
      tokens cannot contain spaces post-normalization, so pair
      identity ≡ ``concat_ws(" ", a, b)`` string identity; a 1-token
      doc contributes its single token as its one "gram"
      (``word_ngrams``'s short-text rule) → frac 1.0;
    - ratios are int64/int64 true division in float64 — the same IEEE
      operation as Spark's double Divide on the same exact integers.
    """
    from rehiver_spark.session import ship_package

    ship_package(df.sparkSession)
    df = ensure_parallelism(df)
    # empty-doc exclusion via the RAW text: rlike('\\S') ⟺ tokens(text)
    # non-empty (tokenize splits on the regex class \\s, and Spark's trim
    # strips ONLY 0x20, so a tab/newline-only doc would pass a
    # trim != '' filter with zero tokens), so every kernel row has ≥1
    # token; the rlike form stays a scan-level pushdown on the raw column
    base = df.filter(
        F.col(text_col).isNotNull() & F.col(text_col).rlike(r"\S")
    ).select(F.col(id_col), normalize_text(F.col(text_col)).alias("_nt"))
    id_dt = base.schema[id_col].dataType.simpleString()

    def _stats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            texts = pdf["_nt"]
            n_docs = len(texts)
            if n_docs == 0:
                continue
            tok_flat: list[str] = []
            lens = np.empty(n_docs, dtype=np.int64)
            for j, t in enumerate(texts):
                tk = [x for x in t.split(" ") if x]
                tok_flat.extend(tk)
                lens[j] = len(tk)
            codes, uniq = pd.factorize(np.asarray(tok_flat, dtype=object))
            codes = codes.astype(np.int64, copy=False)
            doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
            # per-(doc, token) multiplicities via one sort: key packs
            # (doc, code) into int64 — nu ≤ batch tokens and doc_idx ≤
            # batch rows, so the product is far below 2**63 for any
            # batch that fits in memory
            nu = np.int64(max(len(uniq), 1))
            uk, cnt = np.unique(doc_idx * nu + codes, return_counts=True)
            doc_of = uk // nu
            dst = np.bincount(doc_of, minlength=n_docs)
            top = np.zeros(n_docs, dtype=np.int64)
            np.maximum.at(top, doc_of, cnt)
            # bigrams: adjacent token-code pairs within a doc,
            # re-factorized to keep the (doc, pair) pack small
            same = doc_idx[:-1] == doc_idx[1:]
            pair = codes[:-1][same] * nu + codes[1:][same]
            dpair = doc_idx[:-1][same]
            btop = np.ones(n_docs, dtype=np.int64)  # 1-token docs: 1/1
            if len(pair):
                pcodes, puniq = pd.factorize(pair)
                npu = np.int64(len(puniq))
                uk2, cnt2 = np.unique(
                    dpair * npu + pcodes.astype(np.int64), return_counts=True
                )
                np.maximum.at(btop, uk2 // npu, cnt2)
            btotal = np.maximum(lens - 1, 1)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(
                        pdf[id_col].to_numpy(), dtype=pdf[id_col].dtype
                    ),
                    "n_tokens": lens,
                    "distinct_token_ratio": dst / lens,
                    "top_token_frac": top / lens,
                    "top_bigram_frac": btop / btotal,
                }
            )

    return base.mapInPandas(
        _stats,
        f"{id_col} {id_dt}, n_tokens bigint, distinct_token_ratio double, "
        "top_token_frac double, top_bigram_frac double",
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): documents are
    concatenated in deterministic ``id_col`` order within each
    ``group_col`` shard and sliced into fixed ``budget``-token training
    windows; each document is assigned the window containing its first
    token.

    Returns (id, group, n_tokens, start_offset, bin_id). One window
    cumsum partitioned by shard — shards pack independently and in
    parallel, which is how packing actually runs at corpus scale
    (a global greedy order would serialize the corpus).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # null text counts as 0 tokens — a null n_tokens would otherwise
    # null out start_offset/bin_id for that row (window sum skips nulls)
    n = F.coalesce(token_count(F.col(text_col)), F.lit(0))
    return (
        df.select(F.col(id_col), F.col(group_col), n.alias("n_tokens"))
        .withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn("bin_id", F.floor(F.col("start_offset") / F.lit(budget)))
    )


def training_mix_sample(
    df: DataFrame,
    budgets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    budget_col: str = "budget_tokens",
    seed: int = 42,
) -> DataFrame:
    """Training-mix sampling: per group, take documents in portable-
    hash order (a deterministic, repartition-stable shuffle) until the
    group's token budget is reached — the data-mixing step that turns
    per-source weights into an actual training subset.

    Greedy-prefix rule: a document is kept iff its cumulative token
    offset within the group starts inside the budget, so every group
    overshoots by at most one document and the selection is a prefix of
    a deterministic order (resumable, identical in any engine).

    ``budgets`` is a small (group, budget) relation — broadcast; groups
    absent from it are excluded (no budget means no quota). One window
    cumsum per group; groups sample independently in parallel.
    """
    from rehiver_spark.functions.hashing import md5_hash60
    from pyspark.sql import Window

    h = md5_hash60(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(group_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.coalesce(token_count(F.col(text_col)), F.lit(0))
    sized = df.select(F.col(id_col), F.col(group_col), n.alias("n_tokens"))
    cum = sized.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return cum.join(F.broadcast(budgets), group_col).filter(
        F.col("cum_before") < F.col(budget_col)
    ).select(id_col, group_col, "n_tokens", "cum_before")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pre-embedding shaping step of a training/RAG pipeline.

    Chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the last chunk may be short; a doc
    shorter than one chunk yields exactly one chunk. Pure Column ops
    (sequence → transform slice → posexplode), fully parallel, no UDF.

    Output: (id, chunk_idx, chunk_text, n_chunk_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    df = ensure_parallelism(df)
    # tokenize ONCE behind a projection boundary: inlining tokens()
    # into size/sequence/slice makes Catalyst evaluate the regex
    # normalize+split 3× per row (CollapseProject keeps multiply-
    # referenced non-cheap aliases separate only across projections)
    base = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    n = F.size("_tk")
    # number of chunks: ceil(max(n - overlap, 1) / stride)
    n_chunks = F.ceil(F.greatest(n - F.lit(overlap), F.lit(1)) / F.lit(stride)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("_tk"), i * stride + 1, chunk_tokens),
    )
    out = base.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "_chunk_toks"),
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.array_join("_chunk_toks", " ").alias("chunk_text"),
        F.size("_chunk_toks").alias("n_chunk_tokens"),
    )


def token_drift(
    df: DataFrame,
    ref_source: str,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Corpus drift monitor: exact total-variation distance between
    each source's token distribution and a reference source's — the
    between-crawls / between-dumps distribution-shift check a training
    pipeline runs before mixing new data in.

    TV(P,Q) = ½·Σ_t |p_t − q_t| with p_t = cnt_s/T_s, q_t = cnt_r/T_r.
    Computed WITHOUT float summation: the numerator
    Σ|cnt_s·T_r − cnt_r·T_s| is summed in DECIMAL(38,0) (exact, order-
    independent; bigint would overflow at corpus scale since the
    products reach T_s·T_r), tokens present only in the reference are
    folded in closed form as T_s·(T_r − Σ_present cnt_r), and the ONE
    float division happens at the very end per source — the X32
    "quotient of exact integer aggregates" rule, so the report is
    bit-stable at any parallelism.

    Plan: ONE (source, token) count aggregation over the corpus,
    PERSISTED (memory-and-disk) because four sub-relations read it
    (per-source counts, per-source totals, reference counts, reference
    total) — without the persist, filter pushdown makes the subtrees
    non-identical, ReuseExchange never fires, and the corpus is
    scanned and re-tokenized 4×. The cached relation is vocab-sized
    (distinct (source, token)), orders of magnitude smaller than the
    corpus. Caching contract (same as operators/dedup.py): the handle
    is registered via ``session.track_persist`` — release it with
    ``rehiver_spark.session.release_persisted()`` (or LRU eviction).
    Reference counts and totals then ride broadcast joins; the corpus
    itself shuffles once, into the count aggregation.

    A web-scale reference vocabulary (long tail of URLs/typos) can
    reach GBs, so the reference-count broadcast is forced only while
    the corpus's size estimate stays under the dedup operators'
    ``_big_corpus`` gate (it runs no job); past it Catalyst/AQE choose
    the join strategy. The counts are already co-keyed on token, so
    that fallback is one extra vocab-sized shuffle, never a corpus
    reshuffle.

    Output: (source, n_tokens, tv_distance) for every source except
    the reference, tv ∈ [0, 1].
    """
    from pyspark import StorageLevel

    from rehiver_spark.operators.dedup import _big_corpus

    dec = "decimal(38,0)"
    counts = track_persist(
        df.select(F.col(source_col).alias("source"),
                  F.explode(tokens(text_col)).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt")),
        StorageLevel.MEMORY_AND_DISK,
    )
    totals = counts.groupBy("source").agg(
        F.sum("cnt").cast(dec).alias("total")
    )
    ref = counts.filter(F.col("source") == ref_source).select(
        "token", F.col("cnt").alias("cnt_r")
    )
    ref_total = totals.filter(F.col("source") == ref_source).select(
        F.col("total").alias("t_r")
    )
    cur = counts.filter(F.col("source") != ref_source)
    joined = (
        cur.join(ref if _big_corpus(df) else F.broadcast(ref), "token", "left")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(ref_total))
    )
    cnt_r = F.coalesce(F.col("cnt_r"), F.lit(0)).cast(dec)
    term = F.abs(F.col("cnt").cast(dec) * F.col("t_r") - cnt_r * F.col("total"))
    per_source = joined.groupBy("source").agg(
        F.sum(term).alias("num_present"),
        F.sum(cnt_r).alias("ref_overlap"),
        F.first("total").alias("t_s"),
        F.first("t_r").alias("t_r"),
    )
    num = F.col("num_present") + F.col("t_s") * (F.col("t_r") - F.col("ref_overlap"))
    return per_source.select(
        "source",
        F.col("t_s").cast("bigint").alias("n_tokens"),
        F.round(
            num.cast("double")
            / (F.lit(2).cast("double") * F.col("t_s").cast("double")
               * F.col("t_r").cast("double")),
            6,
        ).alias("tv_distance"),
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Pairwise n-gram Jaccard between SOURCES — the corpus-level
    redundancy audit ("which of my dumps/crawls substantially repeat
    each other?") that decides whether two sources should be deduped
    against each other before mixing.

    Per source, the distinct word-k-gram set; per source pair,
    J = |A∩B| / |A∪B| — all exact integer counts. Plan (r13 rework):
    ONE gram-keyed aggregation collects each gram's distinct source
    set (map-side-combinable collect_set, bounded by |sources| per
    row), then source PAIRS are generated per gram from that array —
    pure projection, no self-join. The r12 shape self-joined the
    (source, gram) distinct relation on gram, re-shuffling corpus-gram
    rows a second time; the r13 stage profile at sf10 put that join at
    ~12 s of the 17 s total (BASELINE §Round 13: 23.5-anchor → 10.0 s
    dedicated). Per-source sizes re-read the same persisted gram-set
    relation. No text leaves the gram aggregation; the matrix is
    |sources|² rows.

    Output: (source_a, source_b, common, n_a, n_b, jaccard), a < b.
    """
    from rehiver_spark.session import track_persist

    per_gram = track_persist(
        df.select(
            F.col(source_col).alias("source"),
            F.explode(F.array_distinct(word_ngrams(text_col, k))).alias("g"),
        )
        .groupBy("g")
        # array_sort so pair generation yields a < b by construction
        # (binary string order — the same ordering as Spark's `<`)
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .select("srcs")  # gram strings never leave the aggregation
    )  # consumed by the pair rollup AND the per-source sizes
    sizes = (
        per_gram.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    pairs = F.flatten(
        F.transform(
            "srcs",
            lambda x, i: F.transform(
                F.slice("srcs", i + F.lit(2), F.size("srcs")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    common = (
        per_gram.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
        .agg(F.count("*").cast("bigint").alias("common"))
    )
    return (
        common.join(
            F.broadcast(sizes.withColumnsRenamed({"source": "source_a", "n": "n_a"})),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"source": "source_b", "n": "n_b"})),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "common",
            "n_a",
            "n_b",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def reassemble_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    text_col: str = "chunk_text",
    overlap: int = 8,
) -> DataFrame:
    """Inverse of :func:`chunk_documents` at the SAME ``overlap``:
    rebuild each document's normalized text from its chunks — the
    recovery path when only the chunked/embedded form of a corpus
    survives (or the certification that chunking lost nothing).

    Chunk 0 contributes all its tokens; chunk i>0 drops its first
    ``overlap`` tokens (they re-state the previous chunk's tail by
    construction). One shuffle keyed on the doc id: chunks collapse
    via ``collect_list(struct(idx, tokens))`` → ``array_sort`` →
    ``flatten`` — an aggregate, not a window, so docs rebuild in
    parallel regardless of chunk order or partitioning.

    Output: (id, text) where text == normalize_text(original).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    contrib = F.when(F.col(idx_col) == 0, toks).otherwise(
        F.slice(toks, overlap + 1, F.greatest(F.size(toks) - overlap, F.lit(0)))
    )
    per = df.select(
        F.col(id_col),
        F.struct(F.col(idx_col).alias("i"), contrib.alias("t")).alias("_c"),
    )
    return per.groupBy(id_col).agg(
        F.array_join(
            F.flatten(F.array_sort(F.collect_list("_c")).getField("t")), " "
        ).alias("text")
    )


# PII patterns shared by the Column and oracle forms (RE2+Java-safe)
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"),
    ("ssn", r"\d{3}-\d{2}-\d{4}"),
]


def redact_pii(col: Column | str, replacement: str = "[PII]") -> Column:
    """Scrub common PII shapes (email/phone/SSN) — chained
    regexp_replace, codegen'd, same patterns usable by any RE2 oracle."""
    c = _c(col)
    for _, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, replacement)
    return c


def stratified_sample(
    df: DataFrame,
    group_col: str = "source",
    n_per_group: int = 10,
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-group head sample (data-mixing step): first
    ``n_per_group`` rows per group under a total order — row_number,
    never TABLESAMPLE, so it is exact and oracle-checkable (C16 rule)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


def fingerprint(col: Column | str, bits: int = 64) -> Column:
    """Deterministic document fingerprint: leading hex of sha256 over the
    normalized text. Content-addressed ID for exact dedup & lineage."""
    return F.substring(F.sha2(normalize_text(col), 256), 1, bits // 4)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character k-gram of the
    normalized text, slide a window of ``window`` consecutive gram
    hashes, keep the minimum of each window, and emit the DISTINCT
    selected hashes per document. Guarantees: any shared substring of
    length ≥ k + window − 1 produces ≥ 1 shared fingerprint, so
    fingerprint overlap is a containment detector that exact-dedup
    hashes (whole-document) cannot provide.

    Gram hashing: ``hash_fn="xxhash64"`` (default) is the JVM-side
    path; ``hash_fn="md5"`` is the portable 60-bit hash
    (functions/hashing.py) that makes the selection — mins included —
    bit-identical in a SQL oracle (what the oracle-checked queries
    pass). SimHash takes the same switch; the MinHash sketch is md5
    only. Measured at sf10 the hash choice is only ~6% — once the
    formulation below removed the shuffle, hashing stopped being the
    bottleneck.

    ZERO-SHUFFLE formulation (round 5): hash the grams ONCE into a
    per-doc array behind an explicit projection barrier, take the
    per-window minima map-side, and explode the per-doc
    ``array_distinct`` of the mins — the operator introduces NO key
    shuffle (the only exchange ever present is ensure_parallelism's
    small-file round-robin, a no-op on a real multi-file scan; plan
    test pins the absence of hash/range exchanges). Previously the
    window-frame form shuffled one row per corpus CHARACTER into a
    per-doc sort: ~500M rows at sf10, measured 82 s vs 52 s here, and
    on a real cluster that shuffle is network. The barrier matters:
    inlining the hash-array transform into the selection lambda
    defeats common-subexpression elimination and re-evaluates the
    array per window — O(n²) hashing, measured 270 s at sf0.1. With
    the two-step select the plan computes the array once per row
    (equality with the window form is test-pinned).

    SELECTION is a sparse-table doubling cascade (round 11): the
    sliding min comes from ⌈log₂ window⌉ ``zip_with(m, shift(m, s),
    least)`` passes — one comparison per element per pass, no
    allocation — instead of ``transform(sequence, i →
    array_min(slice(_hs, i, window)))``, which allocates a
    window-sized array PER POSITION and does O(n·window) interpreted
    work. ``zip_with`` NULL-pads the shorter side and ``least`` skips
    NULLs, so boundary windows fall out correctly, and the discarded
    tail past n_windows is sliced off. Measured at sf1: 6.6 → 1.5 s
    with bit-identical output (the two prior winnow experiments moved
    the selection across an Arrow boundary and lost to data transfer
    — see BASELINE.md; this one shrinks the interpreted work itself).

    Output: (id, fp) — one row per distinct selected fingerprint.
    """
    from rehiver_spark.functions.hashing import md5_hash60

    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")
    gram_hash = F.xxhash64 if hash_fn == "xxhash64" else md5_hash60

    df = ensure_parallelism(df)
    norm = normalize_text(F.col(text_col))
    n_grams = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    t1 = df.select(F.col(id_col), norm.alias("_nt"), n_grams.alias("_ng"))
    # GRAM EXTRACTION slices UTF-8 BYTES, not chars, on ASCII rows
    # (r14). ``UTF8String.substring(i, …)`` scans codepoints from the
    # START of the string, so hashing every position via
    # ``_nt.substr(i, k)`` is O(position) per gram — O(n²) bytes
    # touched per document (measured: constant total gram count, 2×
    # doc length → 2.8× cost; sf10 gram pass 19.3 s xxhash64). For a
    # 1-byte-per-char row (length == octet_length) the byte window IS
    # the char window, and both md5 and xxhash64 hash the UTF-8 bytes
    # of a string — so hashing ``substring(encode(_nt), i, k)``
    # (binary slicing, O(k)) yields bit-identical hashes (equality
    # test-pinned). Non-ASCII rows keep the char path. The encode()
    # must evaluate once per ROW, not once per gram: CollapseProject
    # inlines a single-use alias into the lambda body where it would
    # re-encode per element, so the binary is bound as a LAMBDA
    # VARIABLE via a one-element array — the optimizer cannot inline
    # through a lambda binding. Measured (200k rows × 1 kB, 32 cores):
    # 19.3 → 1.2 s xxhash64, 27.1 → 8.4 s md5 (the rest is md5
    # itself).
    seq = F.sequence(F.lit(1), F.col("_ng"))
    byte_hashes = F.get(
        F.transform(
            F.array(F.encode(F.col("_nt"), "UTF-8")),
            lambda b: F.transform(
                seq, lambda i: gram_hash(b.substr(i, F.lit(k)))
            ),
        ),
        0,
    )
    char_hashes = F.transform(
        seq, lambda i: gram_hash(F.col("_nt").substr(i, F.lit(k)))
    )
    hashes = F.when(
        F.length("_nt") == F.octet_length("_nt"), byte_hashes
    ).otherwise(char_hashes)
    t2 = t1.select(id_col, "_ng", hashes.alias("_hs"))
    n_windows = F.greatest(F.col("_ng") - F.lit(window - 1), F.lit(1))
    m: Column = F.col("_hs")
    covered = 1  # m[i] == min(_hs[i .. i+covered-1])
    while covered < window:
        step = min(covered, window - covered)
        shifted = F.slice(
            m, step + 1, F.greatest(F.size(m) - step, F.lit(0))
        )
        m = F.zip_with(m, shifted, lambda x, y: F.least(x, y))
        covered += step
    mins = F.slice(m, 1, n_windows)
    return t2.select(F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp"))


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    group_col: str | None = "source",
) -> DataFrame:
    """Exact TF-IDF token stats (X5).

    Output grain: one row per (group, token) with
      tf        total occurrences of token in the group
      df_docs   number of documents (corpus-wide) containing the token
      idf       ln(N_docs / df_docs)
      tf_idf    tf * idf

    Plan shape: tokenize once (cached array per doc) → two explodes
    feeding plain count aggregations: per-(group, token) TF over the
    full multiset, and per-token document frequency as a two-level
    aggregation over each doc's DISTINCT tokens — (token, doc) rows
    collapse first (so a document stored across several rows still
    counts ONCE; per-row counting would inflate df_docs past n_docs
    and flip idf negative), then a plain per-token count. No
    `countDistinct` aggregate anywhere; both levels are map-side
    combinable. At 100 TB the DF agg output is |vocab| rows →
    broadcast join, not sort-merge.
    """
    df = ensure_parallelism(df)
    n_docs = df.select(F.countDistinct(doc_id_col)).first()[0]
    base = df.select(
        doc_id_col,
        *( [group_col] if group_col else [] ),
        tokens(text_col).alias("_tk"),
    )
    base = track_persist(base)  # tokenization is expensive; read twice
    group_keys = ([group_col] if group_col else []) + ["token"]
    tf = base.select(
        *( [group_col] if group_col else [] ),
        F.explode("_tk").alias("token"),
    ).groupBy(*group_keys).agg(F.count("*").alias("tf"))
    dfreq = (
        base.select(doc_id_col, F.explode(F.array_distinct("_tk")).alias("token"))
        .select("token", doc_id_col)
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df_docs"))
    )
    out = tf.join(F.broadcast(dfreq), "token")
    idf = F.log(F.lit(float(n_docs)) / F.col("df_docs"))
    return out.select(
        *group_keys,
        "tf",
        "df_docs",
        idf.alias("idf"),
        (F.col("tf") * idf).alias("tf_idf"),
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
) -> DataFrame:
    """C4-style duplicate-span removal (Raffel et al. 2020 §2.2 dedup
    rule, re-expressed over token windows): split every document into
    fixed-stride ``span_tokens``-token spans, keep only the globally
    FIRST occurrence of each span text (ordered by (id, span_idx)),
    and reassemble each document from its surviving spans.

    Fixed-stride spans are alignment-sensitive — boilerplate is caught
    when it token-aligns across documents (where text has sentence
    structure, a sentence splitter slots in as the span builder). The
    dedup itself is one shuffle keyed on the span text: a window
    ``row_number`` per span value, then a single per-doc aggregate for
    reconstruction — no joins, no all-pairs, partial-agg friendly at
    any corpus size.

    Output: (id, cleaned_text, n_spans, n_removed).
    """
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    n_chunks = F.ceil(F.greatest(F.size(toks), F.lit(1)) / F.lit(span_tokens)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * span_tokens + 1, span_tokens),
    )
    ex = df.select(
        F.col(id_col), F.posexplode(spans).alias("span_idx", "_sp")
    ).select(
        id_col,
        F.col("span_idx").cast("bigint").alias("span_idx"),
        F.array_join("_sp", " ").alias("span_text"),
    )
    w = Window.partitionBy("span_text").orderBy(
        F.col(id_col).asc(), F.col("span_idx").asc()
    )
    marked = ex.withColumn("_keep", F.row_number().over(w) == 1)
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("span_idx", "span_text"))
                    )
                ),
                lambda s: s["span_text"],
            ),
            " ",
        ).alias("cleaned_text"),
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).cast("bigint").alias("n_removed"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 2,
) -> DataFrame:
    """RefinedWeb/CCNet-style line-level boilerplate removal: drop every
    LINE (``\\n``-separated) whose normalized form appears in more than
    ``max_doc_freq`` distinct documents — nav bars, cookie banners,
    "all rights reserved" footers — and reassemble each document from
    its surviving lines in order.

    Distinct from :func:`dedup_spans` (keep-first span dedup): here a
    hot line is removed from EVERY document, and rare duplicate lines
    survive everywhere — the C4 §2.2 boilerplate rule rather than the
    span dedup rule.

    Blank lines are exempt: a normalized-empty line is structure
    (paragraph separation), not boilerplate — counting it would strip
    every blank line corpus-wide (RefinedWeb/CCNet exempt empties too).

    Plan: one map-side-combinable (line → distinct-doc count)
    aggregation; hot lines are by definition few, so the removal join
    is a **broadcast anti join** — the corpus lines are never shuffled
    for the filter. Reconstruction is one per-doc aggregate. All docs
    survive (a fully-boilerplate doc comes back with empty text).

    Output: (id, cleaned_text, n_lines, n_removed).
    """
    df = ensure_parallelism(df)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_k", normalize_text(F.col("_line")))
    hot = (
        lines.filter(F.col("_k") != "")
        .groupBy("_k")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_k")
    )
    # left join + null test instead of anti join so removed counts stay
    # computable in the same pass
    kept_flag = lines.join(
        F.broadcast(hot.withColumn("_hot", F.lit(True))), "_k", "left"
    ).withColumn("_keep", F.col("_hot").isNull())
    return kept_flag.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("_keep"), F.struct("_pos", "_line")))
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("cleaned_text"),
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).cast("bigint").alias("n_removed"),
    )


_TRACKING_PARAM_RE = r"^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref)="


def canonicalize_url(col: Column | str) -> Column:
    """Canonical URL form for URL-level dedup (the CommonCrawl-style
    first pass before any content hashing): lowercase scheme and host,
    drop default ports (:80/:443), strip the fragment, drop tracking
    parameters (utm_*, fbclid, gclid, …), sort the surviving query
    parameters, and trim trailing path slashes (bare host → "/").

    Pure RE2-safe regex + array ops — identical semantics in the DuckDB
    oracle, whole-stage-codegen'd in Spark, no UDF.
    """
    u = F.trim(_c(col))
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    # DEFAULT ports only, per scheme: https://host:80 is a genuinely
    # distinct origin from https://host and must not merge with it
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    rawpath = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    trimmed = F.regexp_replace(rawpath, r"/+$", "")
    path = F.when(F.length(trimmed) > 0, trimmed).otherwise(F.lit("/"))
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.length(canon_q) > 0, F.concat(F.lit("?"), canon_q)).otherwise(
            F.lit("")
        ),
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level exact dedup: canonicalize, then deterministic
    keep-min-id per canonical form (the C16 rule). One shuffle keyed on
    the canonical URL; map-side canonicalization is free in codegen.

    Output: (id, canon_url, is_keeper, dup_count).
    """
    df = ensure_parallelism(df)
    canon = df.select(
        F.col(id_col), canonicalize_url(url_col).alias("canon_url")
    )
    w = Window.partitionBy("canon_url").orderBy(F.col(id_col).asc())
    wc = Window.partitionBy("canon_url")
    return canon.select(
        id_col,
        "canon_url",
        (F.row_number().over(w) == 1).alias("is_keeper"),
        F.count("*").over(wc).cast("bigint").alias("dup_count"),
    )


# charlm_score collects its model to the driver only up to this many bigrams
_CHARLM_MAX_MODEL_ROWS = 1 << 18


def charlm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. 2020 use a 5-gram
    KenLM; this is the dependency-free relational form): train an
    add-one-smoothed char-bigram model on the corpus itself, then score
    every document by cross-entropy under that model. Outlier documents
    (boilerplate, encoding junk, wrong-language) score high.

    The model is charset²-bounded
    (254 distinct bigrams on the test corpus — independent of corpus
    size), so it is trained by per-batch vectorized partial counts
    (numpy utf-32 code-point arrays → uint64 bigram codes; the shuffle
    carries ~charset² rows PER BATCH, not per char) and collected to
    the driver behind a ``_CHARLM_MAX_MODEL_ROWS`` guard; scoring is
    then one map-only Arrow pass — per-doc gram codes, vectorized
    log-prob lookup, ordered in-doc sum. No per-char rows ever cross
    the wire (the only corpus-row movement left is ensure_parallelism's
    round-robin repartition on few-file inputs, input-row-sized;
    absent when the source is already parallel — sf10 receipts:
    9.9 MB → 0.2 MB shuffle write, BASELINE.md round 7).
    Past the guard it falls back to the relational join form, which
    explodes one row per corpus character and re-groups it per doc
    (sf10, 500k docs: 14.4 s for one explode+HOF gram pass and 9.5 s
    for the per-char regroup) but never collects the model to the
    driver. A corpus whose charset²
    outgrows the driver is not a char-bigram use case.

    Determinism contract (Arrow form): training and scoring are two
    separate jobs over the SAME input plan, so the input must be
    deterministic between them — ``persist()`` or write it first if
    its lineage involves ``sample()``/``limit()``/changing files.
    Violations are detected only when the re-read corpus produces a
    bigram absent from the trained model (then a loud ValueError);
    a drifted input whose new bigrams all exist in the stale model
    scores silently against stale counts.

    Exact and portable: ln/+1 smoothing reproduce in DuckDB; sums are
    rounded at 6; bigram/char splits are code-point semantics on every
    engine (numpy utf-32 == Python ord == Spark/DuckDB substr).

    Output: (id, n_bigrams, cross_entropy); docs with fewer than two
    chars have no bigrams and emit no row (both forms).
    """
    df = ensure_parallelism(df)
    out = _charlm_score_arrow(df, id_col, text_col)
    if out is not None:
        return out
    # model over the guard: fall through to the join form
    # materialize the normalized text ONCE — an inlined expression would
    # re-run the regex normalization inside every per-char lambda call
    base = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_nt")
    )
    nt = F.col("_nt")
    grams = F.when(
        F.length(nt) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(nt) - 1),
            lambda i: nt.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = base.select(F.col(id_col), F.explode(grams).alias("b"))
    bc = bg.groupBy("b").agg(F.count("*").alias("cb"))
    uc = bc.groupBy(F.substring("b", 1, 1).alias("c1")).agg(F.sum("cb").alias("cu"))
    chars = (
        base.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(nt), F.lit(1))),
                    lambda i: nt.substr(i, F.lit(1)),
                )
            ).alias("ch")
        )
        .filter(F.col("ch") != "")
        .agg(F.countDistinct("ch").alias("v"))
    )
    scored = (
        bg.join(F.broadcast(bc), "b")
        .withColumn("c1", F.substring("b", 1, 1))
        .join(F.broadcast(uc), "c1")
        .crossJoin(F.broadcast(chars))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(
            -F.sum(F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("v"))))
            / F.count("*"),
            6,
        ).alias("cross_entropy"),
    )


def _batch_gram_codes(texts):
    """Vectorized char-bigram extraction for one Arrow batch: returns
    (codes, doc_idx, doc_lens, chars) where ``codes`` is the uint64
    (hi<<32|lo) code-point-pair encoding of every in-doc bigram in
    document order, ``doc_idx`` maps each code to its row,
    ``doc_lens`` is per-row bigram counts, and ``chars`` is the raw
    per-char code-point array (returned so the training kernel does
    not re-join/re-encode the batch a second time). Code-point
    semantics by construction (utf-32 == Python ord == Spark/DuckDB
    substr)."""
    import numpy as np

    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    joined = "".join(texts)
    arr = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    if len(arr) == 0:
        e = np.empty(0, dtype=np.int64)
        return e.astype(np.uint64), e, np.maximum(lens - 1, 0), arr
    pair = (arr[:-1].astype(np.uint64) << np.uint64(32)) | arr[1:].astype(
        np.uint64
    )
    # mask out pairs that straddle a document boundary: position p is
    # valid iff p and p+1 are in the same doc ⇔ p != (doc end - 1)
    ends = np.cumsum(lens)
    valid = np.ones(len(arr), dtype=bool)
    valid[ends - 1] = False  # last char of each doc opens no bigram
    valid = valid[:-1]
    doc_of_pos = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
    return pair[valid], doc_of_pos[:-1][valid], np.maximum(lens - 1, 0), arr


def _charlm_score_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame | None:
    """Arrow path of :func:`charlm_score` — see its docstring. Returns
    None when the trained model exceeds ``_CHARLM_MAX_MODEL_ROWS``
    (caller falls back to the join form)."""
    import logging
    import math

    from rehiver_spark.session import ship_package

    ship_package(df.sparkSession)
    base = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_nt")
    )

    def _partial_counts(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            texts = ["" if t is None else t for t in pdf["_nt"]]
            codes, _, _, arr = _batch_gram_codes(texts)
            bg, cnt = np.unique(codes, return_counts=True)
            chars = np.unique(arr)  # reuse — no second join+encode pass
            yield pd.DataFrame(
                {
                    "kind": np.concatenate(
                        [
                            np.zeros(len(bg), dtype=np.int8),
                            np.ones(len(chars), dtype=np.int8),
                        ]
                    ),
                    "code": np.concatenate(
                        [bg.astype(np.int64), chars.astype(np.int64)]
                    ),
                    "cnt": np.concatenate(
                        [cnt.astype(np.int64), np.ones(len(chars), dtype=np.int64)]
                    ),
                }
            )

    from rehiver_spark.session import track_persist

    # PERSISTED: two consumers (bigram counts + distinct-char count)
    # would otherwise each re-run the corpus kernel pass; the relation
    # itself is ~charset² rows per batch — tiny
    parts = track_persist(
        base.mapInPandas(_partial_counts, "kind tinyint, code long, cnt long")
    )
    # the shuffle here carries ~charset² rows per BATCH (pre-combined
    # in the kernel), never one row per corpus char
    model_df = (
        parts.filter(F.col("kind") == 0)
        .groupBy("code")
        .agg(F.sum("cnt").alias("cb"))
    )
    # guard BEFORE collecting: a bounded fetch decides whether the
    # model fits the driver — collecting first and counting after
    # would be the exact OOM the guard exists to prevent
    cap = _CHARLM_MAX_MODEL_ROWS
    probe = model_df.limit(cap + 1).collect()
    if len(probe) > cap:
        logging.getLogger(__name__).warning(
            "charlm_score: distinct bigrams exceed %d; "
            "falling back to the relational join form",
            cap,
        )
        parts.unpersist()
        return None
    model_rows = probe
    v = (
        parts.filter(F.col("kind") == 1)
        .select(F.countDistinct("code").alias("v"))
        .collect()[0]["v"]
    )
    # both consumers of the persisted partial-counts relation are done
    # (the scoring pass below reads `base`, not `parts`) — release the
    # cache now instead of holding it to session-level eviction
    parts.unpersist()
    cb = {r["code"]: r["cb"] for r in model_rows}
    cu: dict[int, int] = {}
    for code, c in cb.items():
        cu[code >> 32] = cu.get(code >> 32, 0) + c
    # per-bigram log-prob: the corpus is self-scored, so every scored
    # bigram is in the model by construction
    lp = {
        code: math.log((c + 1.0) / (cu[code >> 32] + v))
        for code, c in cb.items()
    }
    id_dt = base.schema[id_col].dataType.simpleString()

    def _score(batches):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        q6 = Decimal("0.000001")

        def round6(x: float) -> float:
            # Spark's round() is BigDecimal HALF_UP over the double's
            # shortest decimal form; Python repr == Java Double.toString
            # for round-tripping, so this reproduces it bit-for-bit
            # (np.round is banker's — a silent oracle-hash hazard)
            return float(Decimal(repr(x)).quantize(q6, ROUND_HALF_UP))

        lp_s = pd.Series(lp, dtype=np.float64)
        for pdf in batches:
            texts = ["" if t is None else t for t in pdf["_nt"]]
            codes, doc_idx, nb, _ = _batch_gram_codes(texts)
            logs = lp_s.reindex(codes.astype(np.int64)).to_numpy()
            if np.isnan(logs).any():
                # the corpus is self-scored, so every bigram should be
                # in the model — a miss means the input changed between
                # the training job and this one (non-deterministic
                # source: sample()/limit() lineage, rewritten files).
                # Fail with the cause, not a downstream Decimal error.
                raise ValueError(
                    "charlm_score: scored bigram absent from the trained "
                    "model — the input DataFrame is not deterministic "
                    "between the model job and the scoring job; "
                    "materialize it (persist/write) first"
                )
            sums = np.zeros(len(texts), dtype=np.float64)
            np.add.at(sums, doc_idx, logs)
            keep = nb > 0  # <2-char docs have no bigrams: no row
            n = nb[keep].astype(np.float64)
            ce = -sums[keep] / n
            yield pd.DataFrame(
                {
                    # positional mask on the raw values — indexing the
                    # Series would realign on its (filtered) index and
                    # null out every other column
                    id_col: pd.Series(
                        pdf[id_col].to_numpy()[keep], dtype=pdf[id_col].dtype
                    ),
                    "n_bigrams": nb[keep],
                    "cross_entropy": np.fromiter(
                        (round6(x) for x in ce), dtype=np.float64, count=len(ce)
                    ),
                }
            )

    return base.mapInPandas(
        _score, f"{id_col} {id_dt}, n_bigrams bigint, cross_entropy double"
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source corpus "data card" — the summary table a training run
    records per shard/dump before mixing: volume (docs, tokens),
    length profile (avg/min/max tokens), exact-duplicate rate, English
    share, and a quality-pass share. Grain is one input ROW = one
    document (there is deliberately no id parameter — a corpus stored
    with documents split across rows should be reassembled, e.g. via
    :func:`reassemble_chunks`, before reporting).

    One map-side per-doc projection (token count, lang-ID, quality,
    normalized content hash — all codegen) + ONE aggregation keyed on
    source. Every reported ratio is a quotient of exact integer
    aggregates (counts / countDistinct / integer sums), never a float
    avg — float summation order is engine- and partition-dependent,
    integer sums are not, so the report is bit-stable at any
    parallelism. Quality passes are counted on the 6-decimal-rounded
    per-doc score for the same reason.
    """
    df = ensure_parallelism(df)
    c = F.col(text_col)
    per = df.select(
        F.col(source_col).alias("source"),
        token_count(c).alias("_nt"),
        lang_id(c).alias("_lang"),
        F.round(quality_score(c), 6).alias("_q"),
        F.sha2(normalize_text(c), 256).alias("_sha"),
    )
    n = F.count("*")
    return per.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("total_tokens"),
        F.round(F.sum("_nt") / n, 6).alias("avg_tokens"),
        F.min("_nt").cast("bigint").alias("min_tokens"),
        F.max("_nt").cast("bigint").alias("max_tokens"),
        F.round(F.lit(1.0) - F.countDistinct("_sha") / n, 6).alias("dup_rate"),
        F.round(F.count_if(F.col("_lang") == "en") / n, 6).alias("en_share"),
        F.round(F.count_if(F.col("_q") >= 0.5) / n, 6).alias("quality_pass_share"),
    )


def quality_select(
    df: DataFrame,
    budgets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    budget_col: str = "budget_tokens",
) -> DataFrame:
    """Quality-ranked data selection: per group, keep the HIGHEST
    quality documents first until the token budget is reached — the
    modern data-selection step (educational-value / classifier-ranked
    subsetting) where :func:`training_mix_sample` is its unbiased
    hash-ordered counterpart.

    Ordering key is (6-decimal-rounded quality DESC, ``id_col`` ASC):
    rounding makes the order engine-portable (raw float scores differ
    in the last bits across engines; rounded ones are proven identical
    by the X4 oracle), and the id tiebreak makes it total. Same
    greedy-prefix rule as the mixer: keep iff the cumulative token
    offset starts inside the budget — ≤ 1 doc overshoot, resumable.

    Plan: quality + token count are map-side; one window cumsum per
    group; ``budgets`` is a small (group, budget) relation — broadcast.
    """
    from pyspark.sql import Window

    q = F.round(quality_score(F.col(text_col)), 6)
    n = F.coalesce(token_count(F.col(text_col)), F.lit(0))
    sized = df.select(
        F.col(id_col), F.col(group_col), n.alias("n_tokens"), q.alias("quality")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("quality").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return cum.join(F.broadcast(budgets), group_col).filter(
        F.col("cum_before") < F.col(budget_col)
    ).select(id_col, group_col, "n_tokens", "quality", "cum_before")


_SPLIT_BITS = 60  # md5_hash60 range; thresholds are exact integers in it


def split_thresholds(weights: list[tuple[str, float]]) -> list[tuple[str, int]]:
    """(name, upper_bound) pairs partitioning the 60-bit hash space by
    the given fractions. Computed ONCE on the driver and embedded as
    integer literals in both the Spark plan and any SQL oracle, so the
    assignment is exact by construction (no float comparison at row
    scope). The last band's bound is forced to 2^60 so rounding can
    never leave a row unassigned."""
    total = sum(w for _, w in weights)
    bounds, cum = [], 0.0
    for name, w in weights:
        cum += w / total
        bounds.append((name, int(cum * (1 << _SPLIT_BITS))))
    bounds[-1] = (bounds[-1][0], 1 << _SPLIT_BITS)
    return bounds


DEFAULT_SPLIT_WEIGHTS: list[tuple[str, float]] = [
    ("train", 0.98),
    ("val", 0.01),
    ("test", 0.01),
]


def epoch_shuffle(
    df: DataFrame,
    seed: int = 0,
    id_col: str = "doc_id",
    num_shards: int = 64,
    split_weights: list[tuple[str, float]] | None = None,
) -> DataFrame:
    """Seeded deterministic epoch shuffle + stable train/val/test split
    — the layout step that turns a deduped corpus into training input.

    Adds three columns, all map-side codegen (ZERO shuffle in this
    operator; the one range shuffle happens only when a caller
    materializes the order):

    - ``shuffle_key``: 60-bit portable hash of ``seed:id`` — a total
      order (with the id tiebreak) that reshuffles the whole corpus
      per epoch by changing ``seed``, with no RNG state to replay.
    - ``shard``: ``shuffle_key % num_shards`` — balanced output-file
      assignment for shard-parallel data loaders.
    - ``split``: train/val/test band of a SEED-FREE hash of the id.
      Deliberately a different hash than the order key: the split must
      stay identical across epochs (a doc that was ever in val may
      never drift into train when the epoch seed changes), while the
      order must not correlate with it.

    At scale, materialize with
    ``.repartitionByRange(n, "shuffle_key", id_col)
    .sortWithinPartitions("shuffle_key", id_col)`` — one range shuffle,
    no global single-partition sort, and each output file is a
    contiguous slice of the epoch order. A global ``row_number()`` (a
    one-partition window) is exactly what this design avoids.
    """
    from rehiver_spark.functions.hashing import md5_hash60

    sid = F.col(id_col).cast("string")
    order_key = md5_hash60(F.concat(F.lit(f"{seed}:"), sid))
    split_key = md5_hash60(F.concat(F.lit("split:"), sid))
    bounds = split_thresholds(split_weights or DEFAULT_SPLIT_WEIGHTS)
    split = F.lit(bounds[-1][0])
    for name, ub in reversed(bounds[:-1]):
        split = F.when(split_key < F.lit(ub), F.lit(name)).otherwise(split)
    return df.select(
        "*",
        order_key.alias("shuffle_key"),
        (order_key % F.lit(num_shards)).cast("bigint").alias("shard"),
        split.alias("split"),
    )


def vocab_top_k(
    df: DataFrame,
    k: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_total: int = 1,
) -> DataFrame:
    """Corpus vocabulary / heavy hitters: the ``k`` most frequent
    tokens with exact total counts and document frequencies — the
    vocabulary-building / corpus-inspection step of a training
    pipeline.

    Two-level aggregation: tokens are first collapsed per (token, doc)
    — the map-side partial combine removes within-document repetition
    before anything shuffles — then summed per token (second shuffle is
    |distinct (token, doc)| sized, the same envelope the TF-IDF
    operator already carries). Top-k is (count DESC, token ASC) with
    ``limit`` → TakeOrderedAndProject: per-partition partial top-k,
    never a full sort of the vocabulary.
    """
    t = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(text_col)).alias("token"),
    )
    per_doc = t.groupBy("token", "_id").agg(F.count("*").alias("tf"))
    agg = per_doc.groupBy("token").agg(
        F.sum("tf").cast("bigint").alias("total_count"),
        F.count("*").cast("bigint").alias("doc_freq"),
    )
    return (
        agg.filter(F.col("total_count") >= F.lit(min_total))
        .orderBy(F.col("total_count").desc(), F.col("token").asc())
        .limit(k)
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Probability-proportional-to-weight sampling WITHOUT replacement
    (X48): the Efraimidis–Spirakis (2006) exponential race — each row
    gets key = -ln(u)/w with u uniform, and the k SMALLEST keys per
    group are the sample. This is the exact weighted generalization of
    the corpus-mixing samplers above (quality-weighted subsampling,
    upweighting curated sources, DSIR-style importance resampling).

    Deterministic and portable: u = (md5_hash60(seed:id)+1)/2^60 — no
    RNG state, so re-running, resuming, or re-deriving the sample in a
    SQL engine yields the SAME rows. PRECONDITION: ``id_col`` is
    unique within each group — two rows sharing an id get the same
    race key and tie on the (key, id) sort, so WHICH physical row is
    sampled would be engine-/run-dependent; dedup first (X1) or pass a
    surrogate key. Rows with weight <= 0 or null are excluded (never
    sampled; visible via the count, not an error).

    One window row_number per group over the key (ties broken by id).
    At 100 TB this shuffles (group, key) once; with many groups the
    work parallelizes per group, and for the global case (no groups)
    the candidate set can be pre-pruned by a per-partition top-k before
    the single-partition rank — Catalyst's TakeOrderedAndProject does
    exactly that when k is a LIMIT; with the window form we keep the
    grouped generality and accept one shuffle.
    """
    from pyspark.sql import Window

    from rehiver_spark.functions.hashing import md5_hash60

    g = group_cols or []
    u = (
        md5_hash60(F.concat(F.lit(f"ws{seed}:"), F.col(id_col).cast("string")))
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 60))
    w_col = F.col(weight_col).cast("double")
    key = -F.log(u) / w_col
    ranked = (
        df.filter(w_col.isNotNull() & (w_col > 0))
        .withColumn("_key", key)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*g).orderBy(
                    F.col("_key").asc(), F.col(id_col).asc()
                )
            ),
        )
    )
    return (
        ranked.filter(F.col("_rn") <= k)
        .withColumn("sample_key", F.round(F.col("_key"), 6))
        .drop("_key", "_rn")
    )


def weighted_sample_key_sql(id_expr: str, weight_expr: str, seed: int = 42) -> str:
    """DuckDB twin of the X48 race key."""
    h = f"('0x' || substr(md5('ws{seed}:' || CAST({id_expr} AS VARCHAR)), 1, 15))::BIGINT"
    return f"(-ln(CAST({h} + 1 AS DOUBLE) / {float(1 << 60)}) / CAST({weight_expr} AS DOUBLE))"


def dedup_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 20,
) -> DataFrame:
    """Exact substring dedup at ANY alignment (X57) — the stride-1
    upgrade of :func:`dedup_spans` (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): every ``window_tokens``-
    token window at EVERY position is hashed; any window text that
    occurs more than once corpus-wide keeps only its globally first
    occurrence (ordered by (id, position)), and every other occurrence's
    token range is excised. Fixed-stride span dedup misses duplicated
    passages that don't align to span boundaries; stride-1 windows
    catch a duplicated run of ≥ window_tokens tokens wherever it
    starts, which is the published suffix-array semantics restricted
    to runs ≥ L (keep-one, greedy).

    Plan (100 TB posture — ONE corpus-token-sized shuffle since r13,
    the keep-first pass; reconstruction is shuffle-free):
    1. positions + window hashes are pure array arithmetic per doc;
    2. keep-first = ONE shuffle on the window hash (row_number);
    3. excised positions merge into maximal intervals RELATIONALLY
       (gaps-and-islands over (doc, pos) — no array folds);
    4. reconstruction = the (few) per-doc intervals join back to the
       token arrays on the doc key, excision is an indexed array
       filter — no token explode, no per-doc object aggregate
       (r13: was a second corpus-token shuffle, 6.0 of 14.8 s sf10).

    Overlap subtlety (documented, standard greedy): a later occurrence
    is excised even when the first occurrence itself partially
    overlaps a different excision — exactly one copy of every
    duplicated window's text survives somewhere.

    Output: (id, cleaned_text, n_tokens_before, n_tokens_after,
    n_cut_spans).
    """
    from rehiver_spark.functions.hashing import md5_hash60

    df = ensure_parallelism(df)
    L = window_tokens
    toks = tokens(text_col)
    # base feeds the window pass, the token rows, AND the totals —
    # DELIBERATELY recomputed, not persisted: materializing the
    # token-array projection measured SLOWER than the two extra
    # normalize+split scans (19.2 s recompute vs 23.4 s persisted at
    # sf10 — block-store write+read of the wide arrays costs more
    # than the codegen'd re-scan; the r16 recompute-over-persist
    # trade-off, measured here too)
    base = df.select(F.col(id_col), toks.alias("_t"))
    n_win = F.greatest(F.size(F.col("_t")) - L + 1, F.lit(0))
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: md5_hash60(F.array_join(F.slice(F.col("_t"), i, L), " ")),
    )
    # docs shorter than L tokens have no windows: sequence(1, 0)
    # yields a DESCENDING [1, 0] (not empty), so the window list must
    # be gated on n_win > 0 — CASE evaluates only the taken branch
    occ = base.select(
        id_col,
        F.posexplode(F.when(n_win > 0, wins).otherwise(F.array())).alias(
            "_p0", "_h"
        ),
    ).select(id_col, (F.col("_p0") + 1).alias("pos"), "_h")
    w_first = Window.partitionBy("_h").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    cut = (
        occ.withColumn("_rn", F.row_number().over(w_first))
        .filter(F.col("_rn") > 1)
        .select(id_col, "pos")
    )
    # gaps-and-islands interval merge per doc: [pos, pos+L)
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    w_prev = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    islands = (
        cut.withColumn("_prev_end", F.max(F.col("pos") + L).over(w_prev))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev_end").isNull() | (F.col("pos") > F.col("_prev_end")),
                1,
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w_doc))
        .groupBy(id_col, "_isl")
        .agg(F.min("pos").alias("_s"), (F.max("pos") + L).alias("_e"))
    )
    # r13 reconstruction rewrite (guide §2.4 — remove shuffles
    # outright): the old tail exploded EVERY token into rows, anti-
    # joined them against the intervals, and re-collected each doc
    # with collect_list + array_sort — a second corpus-token shuffle
    # plus a per-doc object aggregate, measured as 6.0 s of the 14.8 s
    # sf10 query (stage split in OPTIMIZATION_r13.md). But the merged
    # intervals are TINY (sf10 fixture: 298k intervals across 243k of
    # 500k docs), so excision is cheaper as pure array arithmetic:
    # collect each doc's intervals (small shuffle on cut rows only),
    # join them back to the token arrays on the doc key, and drop
    # excised positions with an indexed array filter — zero additional
    # corpus-sized shuffle, no object agg, and n_tokens_after /
    # cleaned_text fall out of the same filtered array. Token order is
    # positional by construction (no re-sort needed). Equivalence:
    # identical excision predicate (_s <= idx < _e per doc), pinned
    # against the pure-Python reference and the DuckDB oracle.
    ivs = islands.groupBy(id_col).agg(
        F.collect_list(F.struct("_s", "_e")).alias("_ivs"),
        F.count(F.lit(1)).cast("bigint").alias("n_cut_spans"),
    )
    joined = base.join(ivs, id_col, "left")
    # docs with no cuts carry NULL _ivs: keep the array as-is (a bare
    # filter would drop every token on the NULL predicate)
    cleaned = F.when(F.col("_ivs").isNull(), F.col("_t")).otherwise(
        F.filter(
            F.col("_t"),
            lambda _tok, i: ~F.exists(
                F.col("_ivs"),
                lambda iv: (i + 1 >= iv["_s"]) & (i + 1 < iv["_e"]),
            ),
        )
    )
    return joined.select(
        id_col,
        # NULL text → NULL token array → NULL cleaned; report ""
        F.coalesce(F.array_join(cleaned, " "), F.lit("")).alias("cleaned_text"),
        F.coalesce(F.size("_t"), F.lit(0)).cast("bigint").alias("n_tokens_before"),
        F.coalesce(F.size(cleaned), F.lit(0)).cast("bigint").alias("n_tokens_after"),
        F.coalesce(F.col("n_cut_spans"), F.lit(0))
        .cast("bigint")
        .alias("n_cut_spans"),
    )
