"""X28–X57 + C18b + C17g: round-4/5 scale-path extensions (SURVEY
§2 Part B) — 34 queries.

Round-4 block:
- X28 incremental exact dedup: dedup a new batch against a persisted
  corpus hash index; the corpus itself is never re-read.
- X29 end-to-end fuzzy dedup: MinHash-LSH ∘ exact verify ∘ connected
  components ∘ min-id keeper, as ONE call — portable-md5 sketch, so
  the oracle reproduces candidates, clusters, and keepers exactly.
- X30 Z-order layout write: multi-dimensional clustering for file-level
  min/max pruning; the oracle certifies the roundtrip is lossless and
  tests/test_zorder.py measures the skipping itself.
- X31 semantic decontamination: embedding-cosine benchmark overlap —
  catches the paraphrased leakage n-gram containment (X15) cannot.
- X32 corpus report: the per-source data card (volume, length, dup
  rate, language/quality shares) from exact integer aggregates only.
- X33 quality-ranked token-budget selection: highest-quality docs
  first per source until budget — the DCLM-style selection step.
- X34 incremental near-dup vs the persisted MinHash signature index —
  the fuzzy analog of X28; corpus text never read.
- C18b Python UDTF (Spark 4): the lateral table-function extension
  surface, oracle-checked via an RE2-portable sentence split.
- X35 seeded epoch shuffle + seed-free train/val/test split.
- X36 corpus vocabulary / heavy hitters (exact counts, partial top-k).
- X37 chunk reassembly — X11's inverse, certified against the
  original normalized text.
- X38 corpus drift: exact TV distance between token distributions
  (integer summation only).
- X39 hybrid search: integer token-overlap recall → cosine rerank.
- X40 source-overlap matrix (pairwise exact-dup sharing per source).
- C17g sliding-window aggregation (the C17 form that had no row).

Round-5 block:
- X41 Count-Min frequency sketch (portable counters).
- X42 HyperLogLog distinct counting (portable registers).
- X43 Bloom-filter membership index (compact dedup state).
- X21f winnow contamination fast path (rows-only xxhash64 twin).
- X44/X52/X56 streaming HLL / Count-Min / HDR quantiles — sketch
  state as real AvailableNow Structured-Streaming state, oracle-equal
  to batch.
- X45/X46/X46b BPE pair statistics, merge learning, and map-only
  segmentation (the 100 TB tokenization pass).
- X47 HDR-histogram quantile sketch (bit-exact integer bucketing).
- X48 PPS weighted sampling (exponential-race keys, integer-exact).
- X49 DSIR importance weighting (fixed-point BIGINT scores).
- X50 JL projection (Arrow int64 matmul, zero shuffle).
- X51 distributed quantized k-means (whole-corpus Lloyd's).
- X53 ANN recall audit (measured n_probe operating curve).
- X54 curation yield report / X55 sketch-driven outlier filter.
- X57 exact substring dedup at any alignment (Lee et al. stride-1).
"""

from __future__ import annotations


from pyspark.sql import functions as F

from rehiver_spark.operators.dedup import (
    dedup_index,
    fuzzy_dedup,
    incremental_exact_dedup,
    incremental_minhash_neardup,
    minhash_index,
)
from rehiver_spark.queries import query, tables
from rehiver_spark.queries.x_ops import (
    _LANG_SQL,
    _MH_BASE,
    _NEARDUP_SQL,
    _NORM_SQL,
    _SW,
    _TOKS_SQL,
    _mh_consts_sql,
    _neardup_corpus,
)
from rehiver_spark.operators.textops import (
    DEFAULT_SPLIT_WEIGHTS,
    chunk_documents,
    corpus_report,
    epoch_shuffle,
    quality_select,
    reassemble_chunks,
    split_thresholds,
    vocab_top_k,
)
from rehiver_spark.operators.vectorops import semantic_contamination_pairs
from rehiver_spark.sources.writer import write_zordered


# ---------------------------------------------------------------------------
# X28 — incremental exact dedup against a corpus hash index
# ---------------------------------------------------------------------------


@query(
    "x28_incremental_dedup",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text
      FROM documents WHERE doc_id % 15 = 0
    ),
    idx AS (SELECT DISTINCT sha256({_NORM_SQL}) AS sha FROM corpus),
    hashed AS (SELECT doc_id, sha256({_NORM_SQL}) AS sha FROM batch),
    rn AS (
      SELECT doc_id, sha,
        row_number() OVER (PARTITION BY sha ORDER BY doc_id ASC) AS rn
      FROM hashed
    )
    SELECT r.doc_id, substr(r.sha, 1, 16) AS sha16,
      CASE WHEN i.sha IS NOT NULL THEN 'dup_corpus'
           WHEN r.rn > 1 THEN 'dup_batch'
           ELSE 'new' END AS status
    FROM rn r LEFT JOIN idx i ON i.sha = r.sha
    """,
)
def x28_incremental_dedup(spark, sf_dir):
    """X28: the production dedup mode at 100 TB — a daily increment is
    deduped against the full corpus via its content-hash INDEX (one
    64-byte column), never the corpus text. Fixture: corpus = 90% of
    documents; batch = the held-out 10% plus verbatim re-submissions of
    every 15th document (those whose original sits in the corpus come
    back ``dup_corpus``; in-batch collisions keep the min doc_id)."""
    d = tables(spark, sf_dir, ["documents"])["documents"].select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0).unionByName(
        d.filter(F.col("doc_id") % 15 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )
    out = incremental_exact_dedup(batch, dedup_index(corpus))
    return out.select(
        "doc_id",
        F.substring("content_sha", 1, 16).alias("sha16"),
        "status",
    )


# ---------------------------------------------------------------------------
# X29 — end-to-end fuzzy dedup (portable sketch: oracle checks clusters)
# ---------------------------------------------------------------------------


@query(
    "x29_fuzzy_dedup",
    f"""
    WITH RECURSIVE corpus AS ({_NEARDUP_SQL}),
    consts AS ({_mh_consts_sql()}),
    toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM corpus),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(tk) - 2, 1) + 1),
        i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    based AS (SELECT doc_id, {_MH_BASE} % 1073741824 AS hb FROM ex),
    hashed AS (
      SELECT doc_id, i, min((aa[i + 1] * hb + cc[i + 1]) % 2147483647) AS h
      FROM based CROSS JOIN consts CROSS JOIN range(0, 32) t(i)
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // 4 AS band, string_agg(h::TEXT, ',' ORDER BY i) AS bh
      FROM hashed GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sigs AS (
      SELECT doc_id, list(h ORDER BY i) AS sig FROM hashed GROUP BY doc_id
    ),
    gated AS (
      -- r12 estimate pre-filter (threshold 0.8 - margin 0.25), the
      -- exact twin of minhash_neardup_pairs' est_gate_margin
      SELECT id_a, id_b FROM cand
      JOIN sigs ga ON ga.doc_id = id_a
      JOIN sigs gb ON gb.doc_id = id_b
      WHERE len(list_filter(range(1, 33), i -> ga.sig[i] = gb.sig[i]))::DOUBLE
        / 32 >= 0.55
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM gated
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.8
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT a AS node, a AS label FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT c.doc_id,
      CAST(coalesce(k.cluster_id, c.doc_id) AS BIGINT) AS cluster_id,
      CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
      (coalesce(k.cluster_id, c.doc_id) = c.doc_id) AS is_keeper
    FROM corpus c
    LEFT JOIN comp k ON k.node = c.doc_id
    LEFT JOIN sizes s ON s.cluster_id = k.cluster_id
    """,
)
def x29_fuzzy_dedup(spark, sf_dir):
    """X29: the one-call fuzzy-dedup pipeline a training-data run
    executes — MinHash sketches → LSH banding → exact verification →
    connected components → min-id keeper per cluster. The md5-portable
    sketch means the oracle recomputes candidates, clusters AND keeper
    flags bit-identically, and every stage is the audited scale path:
    banding join, pointer-jumped components, one corpus-vs-map join."""
    corpus = _neardup_corpus(spark, sf_dir)
    out = fuzzy_dedup(
        corpus, "doc_id", "text", k=3, threshold=0.8, num_hashes=32, bands=8
    )
    return out.select(
        "doc_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "is_keeper",
    )


# ---------------------------------------------------------------------------
# X30 — Z-order layout write (lossless roundtrip; skipping measured in tests)
# ---------------------------------------------------------------------------


@query(
    "x30_zorder_layout",
    """
    SELECT event_id, user_id, round(value, 6) AS value FROM events
    """,
)
def x30_zorder_layout(spark, sf_dir):
    """X30: multi-dimensional data layout — events written clustered on
    a Z-order curve over (user_id, value), then read back. The oracle
    certifies the layout is content-lossless; tests/test_zorder.py
    measures the actual file-level min/max skipping the curve buys for
    box predicates on either column (a linear sort prunes only its
    leading key). This is the lakehouse 'optimized data-fetching'
    counterpart to the reference's prefix-listing claim."""
    ev = tables(spark, sf_dir, ["events"])["events"].select(
        "event_id", "user_id", "value"
    )
    from rehiver_spark.queries import scratch_dir

    out_dir = scratch_dir("x30", sf_dir) + "/events"
    write_zordered(ev, out_dir, ["user_id", "value"], bits=6, n_files=8)
    back = spark.read.parquet(out_dir)
    return back.select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )


# ---------------------------------------------------------------------------
# X31 — semantic (embedding-level) decontamination
# ---------------------------------------------------------------------------


@query(
    "x31_semantic_decontamination",
    """
    WITH bench AS (
      SELECT vec_id + 500000 AS bench_id,
        list_transform(range(1, len(embedding) + 1),
          i -> embedding[i]::DOUBLE * (1.0 + 0.02 * ((i - 1) % 7))
               + 0.01 * (((i - 1) % 3) - 1)) AS bv
      FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 500
    ),
    scored AS (
      SELECT e.vec_id, b.bench_id,
        list_cosine_similarity(e.embedding::DOUBLE[], bv) AS c
      FROM embeddings e CROSS JOIN bench b
    )
    SELECT vec_id, bench_id, round(c, 6) AS cos_sim
    FROM scored WHERE c >= 0.9
    """,
)
def x31_semantic_decontamination(spark, sf_dir):
    """X31: embedding-level train/test decontamination — the semantic
    complement of X15's n-gram containment (bench pinned to
    vec_id < 500 — scale-invariant benchmark): paraphrased benchmark
    leakage has near-zero n-gram overlap but high embedding cosine.
    Benchmark items are synthesized as deterministic per-dimension
    perturbations ('paraphrases') of every 25th corpus vector, so each
    plants exactly its source (plus that source's exact duplicates)
    above the 0.9 threshold. Benchmark side broadcasts; the corpus is
    scored map-side and never shuffled (same scale shape as X15)."""
    emb = tables(spark, sf_dir, ["embeddings"])["embeddings"]
    bench = emb.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 500)).select(
        (F.col("vec_id") + 500000).alias("bench_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.02 * (i % 7)) + 0.01 * ((i % 3) - 1),
        ).alias("embedding"),
    )
    out = semantic_contamination_pairs(emb, bench, threshold=0.9)
    return out.select(
        "vec_id",
        "bench_id",
        F.round("cosine", 6).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# X32 — per-source corpus report ("data card")
# ---------------------------------------------------------------------------


@query(
    "x32_corpus_report",
    f"""
    WITH base AS (
      SELECT source, {_TOKS_SQL} AS tk, {_NORM_SQL} AS norm,
        length(text) AS n,
        length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha
      FROM documents
    ),
    scored AS (
      SELECT source, len(tk) AS nt, sha256(norm) AS sha,
        greatest(len(tk), 1) AS n_tok1,
        len(list_filter(tk, t -> list_contains({_SW}, t))) AS sw_hits,
        len(list_filter(tk, t -> list_contains(['the','a','an','and','of','to','in','is'], t))) AS s_en,
        len(list_filter(tk, t -> list_contains(['der','die','das','und','nicht','ist','ein'], t))) AS s_de,
        len(list_filter(tk, t -> list_contains(['le','la','les','et','est','une','des'], t))) AS s_fr,
        len(list_filter(tk, t -> list_contains(['el','la','los','y','es','una','que'], t))) AS s_es,
        n, n_alpha, norm
      FROM base
    ),
    per AS (
      SELECT source, nt, sha,
        ({_LANG_SQL}) AS lang,
        round(0.4 * (n_alpha / greatest(n, 1))
          + 0.3 * least(sw_hits / greatest(nt, 1) * 5.0, 1.0)
          + 0.3 * greatest(0.0, 1.0 - abs((length(norm) - (n_tok1 - 1)) / n_tok1 - 5.0) / 10.0),
          6) AS q
      FROM scored
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(nt) AS BIGINT) AS total_tokens,
      round(sum(nt)::DOUBLE / count(*), 6) AS avg_tokens,
      CAST(min(nt) AS BIGINT) AS min_tokens,
      CAST(max(nt) AS BIGINT) AS max_tokens,
      round(1.0 - count(DISTINCT sha)::DOUBLE / count(*), 6) AS dup_rate,
      round(count(*) FILTER (WHERE lang = 'en')::DOUBLE / count(*), 6) AS en_share,
      round(count(*) FILTER (WHERE q >= 0.5)::DOUBLE / count(*), 6) AS quality_pass_share
    FROM per GROUP BY source
    """,
)
def x32_corpus_report(spark, sf_dir):
    """X32: the per-source corpus 'data card' a training run records
    before mixing — volume, length profile, exact-dup rate, English
    share, quality-pass share. One map-side per-doc projection + one
    source-keyed aggregation; every ratio is a quotient of exact
    integer aggregates, so the report is bit-stable at any
    parallelism (no float-summation-order dependence)."""
    d = tables(spark, sf_dir, ["documents"])["documents"]
    return corpus_report(d)


# ---------------------------------------------------------------------------
# X33 — quality-ranked token-budget selection
# ---------------------------------------------------------------------------


@query(
    "x33_quality_select",
    f"""
    WITH base AS (
      SELECT doc_id, source, {_TOKS_SQL} AS tk, {_NORM_SQL} AS norm,
        length(text) AS n,
        length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source, len(tk) AS nt, greatest(len(tk), 1) AS n_tok1,
        len(list_filter(tk, t -> list_contains({_SW}, t))) AS sw_hits,
        n, n_alpha, norm
      FROM base
    ),
    per AS (
      SELECT doc_id, source, nt,
        round(0.4 * (n_alpha / greatest(n, 1))
          + 0.3 * least(sw_hits / greatest(nt, 1) * 5.0, 1.0)
          + 0.3 * greatest(0.0, 1.0 - abs((length(norm) - (n_tok1 - 1)) / n_tok1 - 5.0) / 10.0),
          6) AS q
      FROM scored
    ),
    ranked AS (
      SELECT doc_id, source, nt, q,
        sum(nt) OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS cum_before
      FROM per
    )
    SELECT doc_id, source, CAST(nt AS BIGINT) AS n_tokens, q AS quality,
      CAST(cum_before AS BIGINT) AS cum_before
    FROM ranked WHERE cum_before < 1000
    """,
)
def x33_quality_select(spark, sf_dir):
    """X33: quality-ranked data selection — per source, the
    highest-quality documents are kept first until a 1000-token budget
    is reached (greedy prefix, ≤ 1 doc overshoot). The ordering key is
    the 6-decimal-rounded X4 quality score (engine-portable) with a
    doc_id tiebreak, so the selected subset is bit-identical in SQL."""
    d = tables(spark, sf_dir, ["documents"])["documents"]
    budgets = d.select("source").distinct().withColumn(
        "budget_tokens", F.lit(1000)
    )
    out = quality_select(d, budgets)
    return out.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "quality",
        F.col("cum_before").cast("bigint").alias("cum_before"),
    )


# ---------------------------------------------------------------------------
# X34 — incremental near-dup vs persisted signature index (portable twin)
# ---------------------------------------------------------------------------


@query(
    "x34_incremental_neardup",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 300000 AS doc_id, text || ' zz yy xx' AS text
      FROM documents WHERE doc_id % 12 = 0
    ),
    consts AS ({_mh_consts_sql()}),
    alld AS (
      SELECT 'c' AS side, doc_id, text FROM corpus
      UNION ALL
      SELECT 'b' AS side, doc_id, text FROM batch
    ),
    toks AS (SELECT side, doc_id, {_TOKS_SQL} AS tk FROM alld),
    sh AS (
      SELECT side, doc_id, list_distinct(list_transform(
        range(1, greatest(len(tk) - 2, 1) + 1),
        i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM toks
    ),
    ex AS (SELECT side, doc_id, unnest(s) AS shingle FROM sh),
    based AS (SELECT side, doc_id, {_MH_BASE} % 1073741824 AS hb FROM ex),
    hashed AS (
      SELECT side, doc_id, i, min((aa[i + 1] * hb + cc[i + 1]) % 2147483647) AS h
      FROM based CROSS JOIN consts CROSS JOIN range(0, 32) t(i)
      GROUP BY side, doc_id, i
    ),
    bands AS (
      SELECT side, doc_id, i // 4 AS band, string_agg(h::TEXT, ',' ORDER BY i) AS bh
      FROM hashed GROUP BY side, doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
      FROM bands b JOIN bands c
        ON b.band = c.band AND b.bh = c.bh
      WHERE b.side = 'b' AND c.side = 'c'
    ),
    sigs AS (
      SELECT side, doc_id, list(h ORDER BY i) AS sig
      FROM hashed GROUP BY side, doc_id
    ),
    est AS (
      SELECT batch_id, corpus_id,
        len(list_filter(range(1, 33), i -> sb.sig[i] = sc.sig[i]))::DOUBLE / 32 AS e
      FROM cand
      JOIN sigs sb ON sb.side = 'b' AND sb.doc_id = batch_id
      JOIN sigs sc ON sc.side = 'c' AND sc.doc_id = corpus_id
    )
    SELECT batch_id AS doc_id, corpus_id, round(e, 6) AS est_jaccard
    FROM est WHERE e >= 0.5
    """,
)
def x34_incremental_neardup(spark, sf_dir):
    """X34: ingest-time NEAR-dup filtering against the persisted corpus
    MinHash signature index — the fuzzy analog of X28: re-crawled or
    lightly-edited submissions are caught with NO access to corpus
    text, via LSH banding on the stored signatures + signature-
    estimated Jaccard. Fixture: batch = held-out 10% of documents plus
    token-tail-mutated re-submissions of every 12th document (J≈0.95
    vs their corpus originals). The md5-portable sketch reproduces
    candidates AND estimates bit-identically in SQL; the plan streams
    the index map-side and broadcasts the batch side (the X28 shape)."""
    d = tables(spark, sf_dir, ["documents"])["documents"].select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0).unionByName(
        d.filter(F.col("doc_id") % 12 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat("text", F.lit(" zz yy xx")).alias("text"),
        )
    )
    idx = minhash_index(corpus)
    out = incremental_minhash_neardup(batch, idx, est_threshold=0.5)
    return out.select(
        "doc_id",
        "corpus_id",
        F.round("est_jaccard", 6).alias("est_jaccard"),
    )


# ---------------------------------------------------------------------------
# X35 — seeded epoch shuffle + stable train/val/test split
# ---------------------------------------------------------------------------

_EPOCH_SEED = 7
_SPLIT_BOUNDS = split_thresholds(DEFAULT_SPLIT_WEIGHTS)


def _md5h60_sql(expr: str) -> str:
    from rehiver_spark.functions.hashing import md5_hash60_sql

    return md5_hash60_sql(expr)


@query(
    "x35_epoch_shuffle",
    f"""
    WITH keyed AS (
      SELECT doc_id,
        {_md5h60_sql(f"'{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)")} AS shuffle_key,
        {_md5h60_sql("'split:' || CAST(doc_id AS VARCHAR)")} AS split_key
      FROM documents
    )
    SELECT doc_id, shuffle_key, shuffle_key % 64 AS shard,
      CASE WHEN split_key < {_SPLIT_BOUNDS[0][1]} THEN '{_SPLIT_BOUNDS[0][0]}'
           WHEN split_key < {_SPLIT_BOUNDS[1][1]} THEN '{_SPLIT_BOUNDS[1][0]}'
           ELSE '{_SPLIT_BOUNDS[2][0]}' END AS split
    FROM keyed
    """,
)
def x35_epoch_shuffle(spark, sf_dir):
    """X35: seeded deterministic epoch shuffle + stable split — the
    training-layout step. Everything here is map-side codegen (zero
    shuffle in the operator itself); the epoch order is a portable
    60-bit hash of ``seed:id`` (new seed = new epoch order, no RNG
    state), the shard is its modulus, and the split band uses a
    SEED-FREE hash so membership never drifts between epochs. At scale
    the order is materialized with repartitionByRange on shuffle_key —
    one range shuffle, never a global row_number window."""
    d = tables(spark, sf_dir, ["documents"])["documents"]
    out = epoch_shuffle(d, seed=_EPOCH_SEED, num_shards=64)
    return out.select("doc_id", "shuffle_key", "shard", "split")


# ---------------------------------------------------------------------------
# X36 — corpus vocabulary / heavy hitters
# ---------------------------------------------------------------------------


@query(
    "x36_vocab_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
    ),
    per_doc AS (SELECT token, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
    agg AS (
      SELECT token, CAST(sum(tf) AS BIGINT) AS total_count,
        CAST(count(*) AS BIGINT) AS doc_freq
      FROM per_doc GROUP BY 1
    )
    SELECT token, total_count, doc_freq FROM agg
    ORDER BY total_count DESC, token ASC LIMIT 200
    """,
)
def x36_vocab_topk(spark, sf_dir):
    """X36: exact corpus heavy hitters (vocabulary building / corpus
    inspection). Two-level aggregation collapses within-document
    repetition map-side before the token-keyed shuffle; the top-k is
    (count DESC, token ASC) via limit → TakeOrderedAndProject, i.e.
    per-partition partial top-k, never a full vocabulary sort. The
    boundary tiebreak on token makes the selected SET deterministic."""
    d = tables(spark, sf_dir, ["documents"])["documents"]
    return vocab_top_k(d, k=200)


# ---------------------------------------------------------------------------
# X37 — chunk reassembly (inverse of X11; roundtrip certified vs original)
# ---------------------------------------------------------------------------


@query(
    "x37_chunk_reassembly",
    f"""
    SELECT doc_id, {_NORM_SQL} AS text FROM documents
    """,
)
def x37_chunk_reassembly(spark, sf_dir):
    """X37: rebuild documents from their overlapping token-window
    chunks (inverse of X11). The oracle is the ORIGINAL normalized
    text, computed independently in SQL — so a hash match certifies
    the chunk → reassemble roundtrip is lossless, not merely
    self-consistent. Chunking is map-side; reassembly is one doc-keyed
    aggregate (collect_list → array_sort → flatten), never a window."""
    d = tables(spark, sf_dir, ["documents"])["documents"]
    chunks = chunk_documents(d, chunk_tokens=64, overlap=8)
    return reassemble_chunks(chunks, overlap=8)


# ---------------------------------------------------------------------------
# C18b — Python UDTF surface (Spark 4 user-defined TABLE function)
# ---------------------------------------------------------------------------


def _split_sentences_udtf():
    """The UDTF class, built lazily so importing this module never
    requires a live session. Split rule is RE2-portable (no lookbehind):
    mark each sentence-ending punctuation-then-whitespace with a
    record separator, split on it, trim, drop empties — the oracle
    reproduces it with regexp_replace + string_split."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            import re

            marked = re.sub(r"([.!?])\s+", "\\1\x1e", text or "")
            parts = [p.strip() for p in marked.split("\x1e") if p.strip()]
            for i, p in enumerate(parts):
                yield i, p

    return SplitSentences


@query(
    "c18b_python_udtf",
    """
    WITH sent AS (
      SELECT doc_id,
        list_filter(list_transform(
          string_split(regexp_replace(replace(text, 'table ', 'table. '),
                                      '([.!?])\\s+', '\\1' || chr(30), 'g'),
                       chr(30)),
          p -> trim(p)), p -> p <> '') AS s
      FROM documents
    )
    SELECT doc_id, CAST(unnest(range(0, len(s))) AS INT) AS idx,
      unnest(s) AS sentence
    FROM sent
    """,
)
def c18b_python_udtf(spark, sf_dir):
    """C18 (UDTF form): the Spark 4 Python user-defined TABLE function
    surface — one input row yields many output rows with their own
    schema, the lateral-join extension point the reference's processor
    callback (src/index.ts:1382) maps to when per-item processing must
    EMIT records rather than return one value. Here: document →
    (idx, sentence) rows. This is the per-row-Python extension surface,
    not the scale path — the same semantics compile to codegen via
    regexp_replace + split + posexplode (X11's relational pattern)
    when throughput matters."""
    tables(spark, sf_dir, ["documents"])  # registers the temp view
    spark.udtf.register("split_sentences", _split_sentences_udtf())
    return spark.sql(
        """
        SELECT d.doc_id, s.idx, s.sentence
        FROM documents d, LATERAL split_sentences(replace(d.text, 'table ', 'table. ')) s
        """
    )


# ---------------------------------------------------------------------------
# X38 — corpus drift: exact total-variation distance vs a reference source
# ---------------------------------------------------------------------------


@query(
    "x38_corpus_drift",
    f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS token FROM documents
    ),
    counts AS (SELECT source, token, count(*) AS cnt FROM toks GROUP BY 1, 2),
    totals AS (
      SELECT source, CAST(sum(cnt) AS HUGEINT) AS total FROM counts GROUP BY 1
    ),
    ref AS (SELECT token, cnt AS cnt_r FROM counts WHERE source = 'src0'),
    rt AS (SELECT total AS t_r FROM totals WHERE source = 'src0'),
    per AS (
      SELECT c.source,
        sum(abs(CAST(c.cnt AS HUGEINT) * rt.t_r
                - CAST(coalesce(r.cnt_r, 0) AS HUGEINT) * t.total)) AS np,
        sum(CAST(coalesce(r.cnt_r, 0) AS HUGEINT)) AS ref_overlap,
        any_value(t.total) AS t_s, any_value(rt.t_r) AS t_r
      FROM counts c
      LEFT JOIN ref r USING (token)
      JOIN totals t ON t.source = c.source
      CROSS JOIN rt
      WHERE c.source <> 'src0'
      GROUP BY 1
    )
    SELECT source, CAST(t_s AS BIGINT) AS n_tokens,
      round(CAST(np + t_s * (t_r - ref_overlap) AS DOUBLE)
            / (2.0 * CAST(t_s AS DOUBLE) * CAST(t_r AS DOUBLE)), 6) AS tv_distance
    FROM per
    """,
)
def x38_corpus_drift(spark, sf_dir):
    """X38: distribution-shift monitor — exact total-variation distance
    between every source's token distribution and the reference
    source's. All summation is DECIMAL(38,0)/HUGEINT integer arithmetic
    (the X32 rule: one float division at the end), so the report is
    bit-stable at any parallelism and reproduces exactly in SQL."""
    from rehiver_spark.operators.textops import token_drift

    d = tables(spark, sf_dir, ["documents"])["documents"]
    return token_drift(d, ref_source="src0")


# ---------------------------------------------------------------------------
# X39 — hybrid search: lexical recall → vector rerank
# ---------------------------------------------------------------------------


# Pinned literal query set: 50 doc_ids that exist at EVERY scale point
# (docs and embeddings both cover 0..499 at all sf dirs, and sf1/sf10
# replicas keep replica-0 ids). The earlier `doc_id % 100 = 7` predicate
# scaled the QUERY count with the corpus, so scale rows measured query
# inflation, not corpus-linear engine work.
_X39_QUERY_IDS = tuple(range(7, 500, 10))
_X39_IDS_SQL = ", ".join(str(i) for i in _X39_QUERY_IDS)


@query(
    "x39_hybrid_search",
    f"""
    WITH dtoks AS (
      SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS token FROM documents
    ),
    q AS (
      SELECT doc_id AS query_id, token FROM dtoks
      WHERE doc_id IN ({_X39_IDS_SQL})
    ),
    shared AS (
      SELECT q.query_id, dt.doc_id, CAST(count(*) AS BIGINT) AS shared_tokens
      FROM dtoks dt JOIN q ON q.token = dt.token
      WHERE dt.doc_id NOT IN ({_X39_IDS_SQL})
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, doc_id, shared_tokens FROM (
        SELECT query_id, doc_id, shared_tokens,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY shared_tokens DESC, doc_id ASC) AS rn
        FROM shared
      ) WHERE rn <= 50
    ),
    qe AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id IN ({_X39_IDS_SQL})
    ),
    scored AS (
      SELECT c.query_id, c.doc_id, c.shared_tokens,
        round(list_cosine_similarity(qe.qv, e.embedding::DOUBLE[]), 6) AS cos_sim
      FROM cand c
      JOIN qe ON qe.query_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.doc_id
    )
    SELECT query_id, doc_id, shared_tokens, cos_sim, rank FROM (
      SELECT query_id, doc_id, shared_tokens, cos_sim,
        CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x39_hybrid_search(spark, sf_dir):
    """X39: two-stage retrieval — exact integer token-overlap recall
    (top-50 per query, query tokens broadcast, corpus shuffles only
    into the overlap count) then cosine rerank over the candidate set
    (candidates broadcast; the embeddings table never shuffles). The
    rank orders on (round(cos, 6) DESC, id ASC) so the boundary is
    engine-portable and total. doc_id ≡ vec_id in the testdata. The
    query set is the pinned 50-id literal list (scale-invariant), so
    sf1/sf10 rows measure corpus growth at constant query load."""
    from rehiver_spark.operators.vectorops import hybrid_search

    t = tables(spark, sf_dir, ["documents", "embeddings"])
    d, e = t["documents"], t["embeddings"]
    qids = d.filter(F.col("doc_id").isin(*_X39_QUERY_IDS)).select("doc_id")
    return hybrid_search(d, e, qids, recall_n=50, k=10)


# ---------------------------------------------------------------------------
# C17g — sliding-window aggregation (the C17 form that had no query row)
# ---------------------------------------------------------------------------


@query(
    "c17g_sliding_window",
    """
    WITH w AS (
      SELECT ts::TIMESTAMP AS ts,
        time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP)
          - (k * INTERVAL '15 minutes') AS ws
      FROM events, unnest([0, 1, 2, 3]) AS t(k)
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws,
      CAST(count(*) AS BIGINT) AS n_events
    FROM w WHERE ts < ws + INTERVAL '1 hour'
    GROUP BY 1
    """,
)
def c17g_sliding_window(spark, sf_dir):
    """C17 (sliding form): 1-hour windows sliding every 15 minutes via
    the SAME transform the streaming path runs
    (rehiver_spark.streaming.windows.sliding_counts — batch-replayable
    per C17; streaming execution covered in tests/test_streaming).
    Each event lands in length/slide = 4 windows; the oracle enumerates
    those four epoch-aligned window starts per event explicitly."""
    from rehiver_spark.streaming.windows import sliding_counts

    ev = tables(spark, sf_dir, ["events"])["events"]
    s = sliding_counts(ev, "ts", "1 hour", "15 minutes")
    return s.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# X40 — source-overlap matrix (pairwise n-gram Jaccard between sources)
# ---------------------------------------------------------------------------


@query(
    "x40_source_overlap",
    f"""
    WITH grams AS (
      SELECT DISTINCT source, unnest(list_distinct(
        list_transform(
          range(1, greatest(len({_TOKS_SQL}) - 2, 1) + 1),
          i -> array_to_string(({_TOKS_SQL})[i:i+2], ' ')
        ))) AS g
      FROM documents
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY 1),
    common AS (
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(count(*) AS BIGINT) AS common
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, common, sa.n AS n_a, sb.n AS n_b,
      round(common / (sa.n + sb.n - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def x40_source_overlap(spark, sf_dir):
    """X40: corpus-level redundancy audit — pairwise word-3-gram
    Jaccard between sources, exact integer counts, |sources|² output.
    One (source, gram) distinct agg + one gram-keyed self-join (pairs
    per gram bounded by sources-per-gram², tiny by construction);
    per-source sizes broadcast. Decides which sources need cross-source
    dedup before mixing."""
    from rehiver_spark.operators.textops import source_overlap_matrix

    d = tables(spark, sf_dir, ["documents"])["documents"]
    return source_overlap_matrix(d, k=3)


# ---------------------------------------------------------------------------
# X41 — Count-Min sketch (portable counters; oracle rebuilds the sketch)
# ---------------------------------------------------------------------------

_CM_D, _CM_W = 4, 512


def _cm_sketch_rows_sql(src: str) -> str:
    """UNION ALL of the d per-row bucket projections over ``src``."""
    from rehiver_spark.operators.sketches import cm_bucket_sql

    return " UNION ALL ".join(
        f"SELECT {i} AS row, {cm_bucket_sql('item', i, _CM_W)} AS bucket FROM {src}"
        for i in range(_CM_D)
    )


def _cm_probe_rows_sql(src: str) -> str:
    from rehiver_spark.operators.sketches import cm_bucket_sql

    return " UNION ALL ".join(
        f"SELECT item, {i} AS row, {cm_bucket_sql('item', i, _CM_W)} AS bucket FROM {src}"
        for i in range(_CM_D)
    )


@query(
    "x41_count_min",
    f"""
    WITH toks AS (SELECT unnest({_TOKS_SQL}) AS item FROM documents),
    sk AS (
      SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM ({{cm_rows}}) GROUP BY row, bucket
    ),
    qs AS (
      SELECT DISTINCT unnest(list_distinct({_TOKS_SQL})) AS item
      FROM documents WHERE doc_id < 5
    ),
    probes AS ({{cm_probes}})
    SELECT item, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
    FROM probes LEFT JOIN sk USING (row, bucket)
    GROUP BY item
    """.format(cm_rows=_cm_sketch_rows_sql("toks"), cm_probes=_cm_probe_rows_sql("qs")),
)
def x41_count_min(spark, sf_dir):
    """X41: Count-Min frequency sketch (Cormode & Muthukrishnan 2005) —
    the mergeable fixed-size (d×w counters) answer to "how often does
    token X appear in the 100 TB corpus" without a vocab-sized exact
    relation. Sketch = ONE explode + ONE partial-combined groupBy whose
    shuffle is capped at d·w rows regardless of input; estimates join
    the broadcast sketch (min over d counters — never underestimates).
    Hashing is the portable md5-60 scheme, so the oracle rebuilds the
    SAME sketch bit-for-bit. Query items pinned to the distinct tokens
    of doc_id < 5 (scale-invariant)."""
    from rehiver_spark.operators.sketches import cm_estimate, cm_sketch
    from rehiver_spark.operators.textops import tokens

    d = tables(spark, sf_dir, ["documents"])["documents"]
    toks = d.select(F.explode(tokens(F.col("text"))).alias("item"))
    sk = cm_sketch(toks, depth=_CM_D, width=_CM_W)
    qs = (
        d.filter(F.col("doc_id") < 5)
        .select(F.explode(F.array_distinct(tokens(F.col("text")))).alias("item"))
        .distinct()
    )
    return cm_estimate(sk, qs, depth=_CM_D, width=_CM_W)


# ---------------------------------------------------------------------------
# X42 — HyperLogLog distinct counting (portable registers + exact-sum
#       estimator; oracle reproduces the estimate to the rounded digit)
# ---------------------------------------------------------------------------

_HLL_P = 9


def _hll_estimate_sql() -> str:
    from rehiver_spark.operators.sketches import _hll_alpha, hll_registers_sql

    m = 1 << _HLL_P
    k = (60 - _HLL_P) + 1
    alpha_num = repr(_hll_alpha(m) * m * m * float(2**k))
    regs = hll_registers_sql("item", _HLL_P, "FROM toks", "source")
    return f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS item FROM documents
    ),
    regs AS ({regs}),
    agg AS (
      SELECT source,
        sum(CAST(power(2.0, {k} - rho) AS DECIMAL(38,0))) AS s_obs,
        count(*) AS n_obs
      FROM regs GROUP BY source
    ),
    raw AS (
      SELECT source,
        {alpha_num} / CAST(s_obs + ({m} - n_obs) * {2**k}::DECIMAL(38,0) AS DOUBLE) AS r,
        {m} - n_obs AS zeros
      FROM agg
    )
    SELECT source,
      round(CASE WHEN r <= {2.5 * m} AND zeros > 0
                 THEN {float(m)} * ln({float(m)} / zeros)
                 ELSE r END, 4) AS est_distinct
    FROM raw
    """


@query("x42_hll_distinct", _hll_estimate_sql())
def x42_hll_distinct(spark, sf_dir):
    """X42: per-source distinct-token cardinality via HyperLogLog
    (Flajolet et al. 2007) — 2^p max-registers per source (ONE groupBy
    max, shuffle capped at |sources|·2^p), mergeable across shards/
    days by register max. Unlike approx_count_distinct (x6, JVM-opaque
    → rows-only), the registers use the portable md5-60 hash and the
    estimator's harmonic sum is computed in EXACT integer arithmetic
    (each 2^-rho scaled to an integer, summed in DECIMAL(38,0), one
    final division) — bit-stable at any parallelism and reproduced by
    the SQL oracle to the rounded digit."""
    from rehiver_spark.operators.sketches import hll_estimate, hll_registers
    from rehiver_spark.operators.textops import tokens

    d = tables(spark, sf_dir, ["documents"])["documents"]
    toks = d.select("source", F.explode(tokens(F.col("text"))).alias("item"))
    regs = hll_registers(toks, p=_HLL_P, group_cols=["source"])
    return hll_estimate(regs, p=_HLL_P, group_cols=["source"])


# ---------------------------------------------------------------------------
# X43 — Bloom-filter membership index (compact incremental-dedup state)
# ---------------------------------------------------------------------------

_BF_M, _BF_K = 1 << 18, 5


def _bf_pos_sql(sha_expr: str, i: int) -> str:
    from rehiver_spark.functions.hashing import md5_hash60_sql

    salted = f"'bf{i}:' || {sha_expr}"
    return f"({md5_hash60_sql(salted)} % {_BF_M})"


def _bf_rows_sql(src: str, with_sha: bool = False) -> str:
    head = "sha, " if with_sha else ""
    return " UNION ALL ".join(
        f"SELECT {head}{_bf_pos_sql('sha', i)} AS pos FROM {src}"
        for i in range(_BF_K)
    )


@query(
    "x43_bloom_dedup",
    f"""
    WITH corpus AS (
      SELECT sha256({_NORM_SQL}) AS sha FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
      SELECT doc_id, sha256({_NORM_SQL}) AS sha
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, sha256({_NORM_SQL}) AS sha
      FROM documents WHERE doc_id % 15 = 0
    ),
    bits AS (SELECT DISTINCT pos FROM ({{corpus_rows}})),
    -- probe per CONTENT HASH with duplicates collapsed — the per-id
    -- form double-counted probe rows of duplicated ids and mislabeled
    -- true duplicates 'new' (the bloom_check dup-batch bug, mirrored)
    uniq AS (SELECT DISTINCT sha FROM batch),
    probes AS ({{batch_rows}}),
    hits AS (
      SELECT sha, count(*) AS h
      FROM probes JOIN bits USING (pos)
      GROUP BY sha
    )
    SELECT b.doc_id,
      CASE WHEN coalesce(h.h, 0) = {_BF_K} THEN 'maybe_dup' ELSE 'new' END AS status
    FROM batch b LEFT JOIN hits h ON h.sha = b.sha
    """.format(
        corpus_rows=_bf_rows_sql("corpus"),
        batch_rows=_bf_rows_sql("uniq", with_sha=True),
    ),
)
def x43_bloom_dedup(spark, sf_dir):
    """X43: Bloom-filter membership check of a batch against corpus
    state — the compact alternative to X28's exact hash index (bit
    relation ≤ m rows vs 64 bytes/doc; never false-negative, so every
    true duplicate is flagged ``maybe_dup``; false positives bounded by
    (fill)^k, route them to X28 or accept the loss rate). Same fixture
    as X28: corpus = 90% of documents; batch = held-out 10% + verbatim
    re-submissions of every 15th (re-submissions MUST flag maybe_dup).
    Index = ONE explode + ONE distinct capped at m rows; the batch
    probes it via a broadcast semi-join — the corpus is never re-read.
    Portable md5-60 bit positions: the oracle rebuilds the filter
    bit-for-bit."""
    from rehiver_spark.operators.dedup import bloom_check, bloom_index

    d = tables(spark, sf_dir, ["documents"])["documents"].select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0).unionByName(
        d.filter(F.col("doc_id") % 15 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )
    idx = bloom_index(corpus, m_bits=_BF_M, k=_BF_K)
    return bloom_check(batch, idx, m_bits=_BF_M, k=_BF_K).select("doc_id", "status")


# ---------------------------------------------------------------------------
# X21f — winnow contamination, production hash path (rows-only twin of
#        x21, as x8 is of x8p)
# ---------------------------------------------------------------------------


@query("x21f_winnow_fast")
def x21f_winnow_fast(spark, sf_dir):
    """X21 fast path: the same substring-contamination pipeline with
    xxhash64 gram hashing (JVM-side; ~6% cheaper than the portable md5
    at sf10 under the zero-shuffle winnow — the gap was 3× when the
    old window-frame form shuffled a row per corpus character, and on
    a multi-node cluster the removed shuffle is the real win).
    Fingerprint VALUES differ from the oracle-checkable md5 form, so
    this registers rows-only (the x8/x8p convention); the winnowing
    guarantee and plan shape are identical and test-pinned. Body is
    the SHARED x21 pipeline (one copy — the two used to drift)."""
    from rehiver_spark.queries.x_ops import winnow_contamination_pipeline

    return winnow_contamination_pipeline(spark, sf_dir, hash_fn="xxhash64")


# ---------------------------------------------------------------------------
# X44 — streaming HyperLogLog (distinct users per event type over a
#       real file-source stream; registers are streaming state)
# ---------------------------------------------------------------------------


def _x44_sql() -> str:
    from rehiver_spark.operators.sketches import _hll_alpha, hll_registers_sql

    p = _HLL_P
    m = 1 << p
    k = (60 - p) + 1
    alpha_num = repr(_hll_alpha(m) * m * m * float(2**k))
    regs = hll_registers_sql(
        "item",
        p,
        "FROM (SELECT event_type, CAST(user_id AS VARCHAR) AS item FROM events)",
        "event_type",
    )
    return f"""
    WITH regs AS ({regs}),
    agg AS (
      SELECT event_type,
        sum(CAST(power(2.0, {k} - rho) AS DECIMAL(38,0))) AS s_obs,
        count(*) AS n_obs
      FROM regs GROUP BY event_type
    ),
    raw AS (
      SELECT event_type,
        {alpha_num} / CAST(s_obs + ({m} - n_obs) * {2**k}::DECIMAL(38,0) AS DOUBLE) AS r,
        {m} - n_obs AS zeros
      FROM agg
    )
    SELECT event_type,
      round(CASE WHEN r <= {2.5 * m} AND zeros > 0
                 THEN {float(m)} * ln({float(m)} / zeros)
                 ELSE r END, 4) AS est_distinct
    FROM raw
    """


@query("x44_stream_hll", _x44_sql())
def x44_stream_hll(spark, sf_dir):
    """X44: HyperLogLog registers AS STREAMING STATE — distinct users
    per event type maintained by Structured Streaming (file source →
    groupBy(type, idx).max(rho) in complete mode → AvailableNow →
    memory sink), estimated from the sink. This is the production
    monitoring shape at 100 TB/day: per-trigger state is capped at
    |types|·2^p register rows (never per-user), survives restarts via
    the checkpoint, and merges across streams by register max. The
    register math is the portable md5-60 form, and max is
    order-insensitive, so the BATCH SQL twin reproduces the streamed
    registers — and therefore the estimate — exactly."""

    from rehiver_spark.operators.sketches import hll_estimate, hll_registers
    from rehiver_spark.queries import scratch_dir
    from rehiver_spark.streaming.windows import (
        read_file_stream,
        run_available_now,
        stage_stream_source,
        suggest_state_partitions,
    )

    ev = tables(spark, sf_dir, ["events"])["events"]
    scratch = scratch_dir("x44", sf_dir)
    src = f"{scratch}/src"
    # natural-width staging, 2-trigger cadence preserved (r13, the
    # c17e pattern — receipts in OPTIMIZATION_r13.md)
    _, src_bytes, mfpt = stage_stream_source(
        ev.select("event_type", "user_id"), src
    )
    schema = spark.read.parquet(src).schema
    sdf = read_file_stream(spark, src, schema, max_files_per_trigger=mfpt)
    regs = hll_registers(sdf, item_col="user_id", p=_HLL_P, group_cols=["event_type"])
    # state is |types|·2^p register rows — letting the session's full
    # shuffle width create a state store apiece costs pure setup/commit
    # (measured 2.27 → 0.94 s at sf0.1); size like the c17 family
    sink = run_available_now(
        regs,
        checkpoint=f"{scratch}/ckpt",
        state_partitions=suggest_state_partitions(spark, src_bytes),
    )
    return hll_estimate(sink, p=_HLL_P, group_cols=["event_type"])


# ---------------------------------------------------------------------------
# X45/X46 — distributed BPE tokenizer training (Sennrich et al. 2016)
# ---------------------------------------------------------------------------

def _bpe_pairs_sql() -> str:
    from rehiver_spark.operators.bpe import spaced_sql

    return f"""
    WITH words AS (SELECT unnest({_TOKS_SQL}) AS word FROM documents),
    wf AS (SELECT word, count(*) AS freq FROM words GROUP BY word),
    syms AS (
      SELECT freq,
        list_filter(string_split({spaced_sql('word')}, ' '), s -> s <> '') AS s
      FROM wf
    ),
    pairs AS (
      SELECT s[i] AS left_sym, s[i+1] AS right_sym, freq
      FROM syms, unnest(range(1, len(s))) AS t(i)
    )
    SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS pair_freq
    FROM pairs GROUP BY left_sym, right_sym
    ORDER BY pair_freq DESC, left_sym, right_sym LIMIT 50
    """


@query("x45_bpe_pairs", _bpe_pairs_sql())
def x45_bpe_pairs(spark, sf_dir):
    """X45: BPE adjacent-pair statistics — round one of tokenizer
    training, as a standalone corpus-accounting query (top-50 symbol
    pairs by weighted frequency, deterministic tie-break). The corpus
    is read ONCE into a map-side-combined word-frequency relation
    (vocabulary-sized output); pair extraction is pure array
    arithmetic per word; the only shuffles are the two capped
    partial-combined aggregations, and the top-50 is a partial top-k
    (TakeOrderedAndProject), never a full sort."""
    from rehiver_spark.operators.bpe import pair_counts, spaced, word_freqs

    d = tables(spark, sf_dir, ["documents"])["documents"]
    vocab = word_freqs(d).withColumn("spaced", spaced(F.col("word")))
    return (
        pair_counts(vocab)
        .orderBy(F.col("pair_freq").desc(), "left_sym", "right_sym")
        .limit(50)
    )


@query("x46_bpe_learn")
def x46_bpe_learn(spark, sf_dir):
    """X46: full BPE merge-table learning (16 merges, min_freq 2) —
    iterative, so rows-only for the driver (DuckDB cannot express the
    argmax-dependent merge recursion); the algorithm itself is pinned
    EXACTLY (merge pairs, order, frequencies) against a pure-Python
    reference implementation of the published algorithm in
    tests/test_bpe.py, including on the real sf0.001 corpus. Driver
    traffic is one row per round (the argmax pair); the vocabulary
    relation stays distributed with lineage checkpointed every 6
    rounds — the same loop discipline as connected components
    (dedup.py X17)."""
    from rehiver_spark.operators.bpe import learn_bpe

    d = tables(spark, sf_dir, ["documents"])["documents"]
    merges = learn_bpe(d, num_merges=16, min_freq=2)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, merged string, pair_freq bigint"
    ).select(
        F.col("rank").cast("bigint").alias("rank"),
        "left_sym",
        "right_sym",
        "merged",
        "pair_freq",
    )


# the pinned merge list for X46b: LITERAL on both sides so the
# map-only segmentation is exactly SQL-expressible (rank order matters
# — later merges consume earlier merges' output symbols)
_BPE_MERGES = [
    ("e", "</w>"),
    ("t", "h"),
    ("th", "e</w>"),
    ("s", "</w>"),
    ("i", "n"),
    ("e", "r"),
    ("o", "n"),
    ("a", "n"),
]


def _bpe_apply_sql() -> str:
    from rehiver_spark.operators.bpe import apply_merges_sql

    syms = apply_merges_sql(_BPE_MERGES, _TOKS_SQL)
    return f"""
    WITH seg AS (SELECT doc_id, {syms} AS s FROM documents)
    SELECT doc_id, CAST(len(s) AS BIGINT) AS n_sym, s[1] AS head_sym
    FROM seg
    """


@query("x46b_bpe_apply", _bpe_apply_sql())
def x46b_bpe_apply(spark, sf_dir):
    """X46b: segment every document with a pinned 8-merge BPE table —
    MAP-ONLY (plan-tested: zero Exchange): per word, the spaced symbol
    string goes through the merges as nested literal replaces inside a
    ``transform`` over the token array; no shuffle, no Python rows, no
    regex. This is the 100 TB tokenization pass: embarrassingly
    parallel, whole-stage-codegen'd, output partitioning = input
    partitioning."""
    from rehiver_spark.operators.bpe import apply_merges

    d = tables(spark, sf_dir, ["documents"])["documents"]
    seg = apply_merges(d, _BPE_MERGES)
    return seg.select(
        "doc_id",
        F.size("bpe_symbols").cast("bigint").alias("n_sym"),
        F.element_at("bpe_symbols", 1).alias("head_sym"),
    )


# ---------------------------------------------------------------------------
# X47 — HDR-histogram quantile sketch (mergeable, bit-portable)
# ---------------------------------------------------------------------------

_HDR_SUB = 16


def _hdr_sql() -> str:
    from rehiver_spark.operators.sketches import hdr_bucket_sql

    s = _HDR_SUB
    b = hdr_bucket_sql("v", s)
    mid = (
        f"CASE WHEN bucket = -1 THEN 0.0 ELSE "
        f"power(2.0, CAST(bucket // {s} AS DOUBLE))"
        f" * ({2 * s} + 2 * (bucket % {s}) + 1) / {float(2 * s)} END"
    )
    return f"""
    WITH vals AS (SELECT source, length(text) AS v FROM documents),
    sk0 AS (
      SELECT source, {b} AS bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM vals GROUP BY 1, 2
    ),
    sk AS (SELECT * FROM sk0 WHERE bucket >= -1),
    tot AS (SELECT source, sum(cnt) AS n FROM sk GROUP BY source),
    cum AS (
      SELECT sk.source, bucket, n,
        sum(cnt) OVER (PARTITION BY sk.source ORDER BY bucket) AS cum
      FROM sk JOIN tot USING (source)
    ),
    qs(qn, qd) AS (VALUES (1, 2), (9, 10), (99, 100)),
    sel AS (
      SELECT source, qn, qd, min(bucket) AS bucket
      FROM cum, qs WHERE cum * qd >= n * qn
      GROUP BY source, qn, qd
    )
    SELECT source, qn || '/' || qd AS q,
      round({mid}, 6) AS est,
      round(1.0 / {2 * _HDR_SUB + 1}, 6) AS rel_err_bound
    FROM sel
    """


@query("x47_hdr_quantiles", _hdr_sql())
def x47_hdr_quantiles(spark, sf_dir):
    """X47: HDR-histogram quantile sketch — the quantile member of the
    mergeable-sketch family (CM=frequency, HLL=cardinality, HDR=
    distribution): per-source p50/p90/p99 document length from a
    fixed-size bucket relation. Bucketing is HdrHistogram's
    log-with-sub-buckets scheme computed BIT-EXACTLY (floor(log2) from
    the binary-string length; the sub-bucket division is by a power of
    two, exact in IEEE doubles) — no libm ln() whose last-ulp rounding
    could flip a boundary bucket between engines, so the sketch AND
    the estimates are bit-identical in SQL. ONE partial-combined
    groupBy with shuffle capped at |sources|·S·50 buckets regardless of
    corpus size; quantile selection is a window cumsum over the tiny
    sketch with INTEGER rank thresholds (cum·den ≥ n·num — no float
    rank). Merge = union + sum (tested); rel. error ≤ 1/(2S+1) ≈ 3%."""
    from rehiver_spark.operators.sketches import hdr_quantiles, hdr_sketch

    d = tables(spark, sf_dir, ["documents"])["documents"]
    vals = d.select("source", F.length("text").alias("v"))
    sk = hdr_sketch(vals, "v", sub=_HDR_SUB, group_cols=["source"])
    return hdr_quantiles(
        sk, [(1, 2), (9, 10), (99, 100)], sub=_HDR_SUB, group_cols=["source"]
    )


# ---------------------------------------------------------------------------
# X48 — weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------


def _x48_sql() -> str:
    from rehiver_spark.operators.textops import weighted_sample_key_sql

    key = weighted_sample_key_sql("doc_id", "wt")
    return f"""
    WITH w AS (
      SELECT source, doc_id, length(text) + 1 AS wt FROM documents
    ),
    keyed AS (SELECT source, doc_id, {key} AS key FROM w WHERE wt > 0),
    r AS (
      SELECT source, doc_id, key,
        row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
      FROM keyed
    )
    SELECT source, doc_id, round(key, 6) AS sample_key
    FROM r WHERE rn <= 20
    """


@query("x48_weighted_sample", _x48_sql())
def x48_weighted_sample(spark, sf_dir):
    """X48: probability-proportional-to-weight sampling WITHOUT
    replacement — 20 docs per source, weight = length(text)+1, via the
    Efraimidis–Spirakis exponential race (key = -ln(u)/w, k smallest
    win). u comes from the portable md5-60 hash of the doc id, so the
    sample is deterministic, resumable, and reproduced row-for-row by
    the SQL oracle — a seeded-RNG sampler could never be. One
    (group, key) shuffle; the race key is computed map-side."""
    from rehiver_spark.operators.textops import weighted_sample

    d = tables(spark, sf_dir, ["documents"])["documents"]
    w = d.select(
        "source", "doc_id", (F.length("text") + 1).alias("wt")
    )
    return weighted_sample(w, "wt", k=20, group_cols=["source"]).select(
        "source", "doc_id", "sample_key"
    )


# ---------------------------------------------------------------------------
# X49 — DSIR importance weighting (Xie et al. 2023)
# ---------------------------------------------------------------------------

_DSIR_B = 4096
_DSIR_SCALE = 1_000_000


def _x49_sql() -> str:
    from rehiver_spark.operators.importance import bucket_sql, grams_sql

    b, s = _DSIR_B, _DSIR_SCALE
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    grams AS (SELECT doc_id, unnest({grams_sql('tk')}) AS g FROM toks),
    feats AS (SELECT doc_id, {bucket_sql('g', b)} AS bucket FROM grams),
    tfeats AS (
      SELECT f.bucket FROM feats f JOIN documents d USING (doc_id)
      WHERE d.source = 'src0'
    ),
    rcnt AS (SELECT bucket, count(*) AS cnt FROM feats GROUP BY bucket),
    tcnt AS (SELECT bucket, count(*) AS cnt FROM tfeats GROUP BY bucket),
    rtot AS (SELECT sum(cnt) AS tot FROM rcnt),
    ttot AS (SELECT sum(cnt) AS tot FROM tcnt),
    lr AS (
      SELECT bucket,
        CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / (tot + {b})) * {s}) AS BIGINT) AS L
      FROM rcnt, rtot
    ),
    lt AS (
      SELECT bucket,
        CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / (tot + {b})) * {s}) AS BIGINT) AS L
      FROM tcnt, ttot
    ),
    lrd AS (SELECT CAST(round(ln(1.0 / (tot + {b})) * {s}) AS BIGINT) AS L FROM rtot),
    ltd AS (SELECT CAST(round(ln(1.0 / (tot + {b})) * {s}) AS BIGINT) AS L FROM ttot),
    sc AS (
      SELECT doc_id,
        sum(coalesce(lt.L, ltd.L) - coalesce(lr.L, lrd.L)) AS fp
      FROM feats
      LEFT JOIN lt USING (bucket)
      LEFT JOIN lr USING (bucket), ltd, lrd
      GROUP BY doc_id
    )
    SELECT doc_id, round(CAST(fp AS DOUBLE) / {s}, 6) AS score
    FROM sc ORDER BY score DESC, doc_id LIMIT 50
    """


@query("x49_dsir_scores", _x49_sql())
def x49_dsir_scores(spark, sf_dir):
    """X49: DSIR importance scores (Xie et al., NeurIPS 2023) — rank
    the raw corpus by log p_target - log p_raw under hashed
    unigram+bigram bag models (B=4096 buckets, add-one smoothing),
    target = the src0 slice standing in for a curated distribution.
    Feature extraction is map-side; the two bucket models are ≤ B-row
    relations joined back BROADCAST (the gram stream never shuffles
    for the lookup); per-doc sums are FIXED-POINT BIGINT (each
    bucket's log-prob rounded once), so scores are bit-stable at any
    parallelism and the oracle reproduces them exactly. Top-50 via
    partial top-k. The resampling step of DSIR = exp(score) into X48's
    weighted sampler."""
    from rehiver_spark.operators.importance import dsir_scores

    d = tables(spark, sf_dir, ["documents"])["documents"]
    scores = dsir_scores(
        d, d.filter(F.col("source") == "src0"), buckets=_DSIR_B, scale=_DSIR_SCALE
    )
    return scores.orderBy(F.col("score").desc(), "doc_id").limit(50)


# ---------------------------------------------------------------------------
# X50 — Johnson–Lindenstrauss random projection
# ---------------------------------------------------------------------------


def _x50_sql() -> str:
    from rehiver_spark.operators.vectorops import jl_project_sql

    proj = jl_project_sql("embedding", dim=64, out_dim=16)
    return f"""
    WITH p AS (SELECT vec_id, {proj} AS proj FROM embeddings)
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, proj[i] AS coord
    FROM p, unnest(range(1, 17)) AS t(i)
    """


@query("x50_jl_project", _x50_sql())
def x50_jl_project(spark, sf_dir):
    """X50: Johnson–Lindenstrauss projection of the embeddings table,
    64 → 16 dims (Achlioptas ±1 planes / sqrt(16)) — the map-only
    preprocessing that cuts downstream ANN/SemDeDup distance cost 4×
    while preserving pairwise distances to (1±ε). Quantized-integer
    plane dots (the x9p discipline) + ONE division by a literal make
    every projected coordinate bit-identical in the oracle. Zero
    shuffle (plan-tested); at 100 TB this runs at scan speed."""
    from rehiver_spark.operators.vectorops import jl_project

    e = tables(spark, sf_dir, ["embeddings"])["embeddings"]
    p = jl_project(e, dim=64, out_dim=16)
    return p.select(
        "vec_id", F.posexplode("proj").alias("i", "coord")
    ).select("vec_id", F.col("i").cast("bigint").alias("i"), "coord")


# ---------------------------------------------------------------------------
# X51 — distributed quantized k-means (Lloyd's, grid centroids)
# ---------------------------------------------------------------------------

_KM_K, _KM_ITER, _KM_SCALE, _KM_DIM = 8, 3, 10000, 64


def _x51_sql() -> str:
    from rehiver_spark.functions.hashing import md5_hash60_sql

    k, n_iter, scale, dim = _KM_K, _KM_ITER, _KM_SCALE, _KM_DIM
    h = md5_hash60_sql("'km:' || CAST(id AS VARCHAR)")
    dist = (
        "list_sum(list_transform(list_zip(q, c), "
        "t -> (t[1] - t[2]) * (t[1] - t[2])))"
    )
    mean_list = ", ".join(
        f"CAST(round(sum(q[{i + 1}]) / count(*)) AS BIGINT)" for i in range(dim)
    )
    parts = [
        "WITH qv AS (SELECT vec_id AS id, "
        f"list_transform(embedding::DOUBLE[], x -> CAST(round(x * {scale}) AS BIGINT)) AS q "
        "FROM embeddings),",
        f"seed AS (SELECT id, q, row_number() OVER (ORDER BY {h}, id) AS rn FROM qv),",
        f"c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cell, q AS c FROM seed WHERE rn <= {k})",
    ]
    for it in range(1, n_iter + 1):
        parts.append(
            f", a{it} AS (SELECT id, q, d, cell FROM ("
            "SELECT id, q, d, cell, "
            "row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn "
            f"FROM (SELECT qv.id, qv.q AS q, {dist} AS d, c.cell "
            f"FROM qv, c{it - 1} c)) WHERE rn = 1)"
        )
        parts.append(
            f", c{it} AS (SELECT cell, list_value({mean_list}) AS c "
            f"FROM a{it} GROUP BY cell)"
        )
    parts.append(
        f""", summ AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
        round(CAST(sum(d) AS DOUBLE) / {float(scale) ** 2}, 4) AS inertia
      FROM a{n_iter} GROUP BY cell
    )
    SELECT s.cell, s.n_members, s.inertia,
      CAST(i - 1 AS BIGINT) AS i, c.c[i] AS coord
    FROM summ s JOIN c{n_iter} c USING (cell), unnest(range(1, {dim + 1})) AS t(i)
    """
    )
    return "\n".join(parts)


@query("x51_kmeans", _x51_sql())
def x51_kmeans(spark, sf_dir):
    """X51: fully distributed Lloyd's k-means over the embeddings
    table (k=8, 3 iterations) — the whole-corpus clustering primitive
    for topic balancing/diversity sampling (vs IVF's sampled-centroid
    trainer). Vectors and CENTROIDS live on the same integer grid
    (round(x·1e4); updates round the mean back), so every distance is
    an exact BIGINT, assignments are deterministic (lowest-cell
    tie-break), updates are order-insensitive integer sums, and the
    3-iteration recursion is reproduced EXACTLY by a mechanically
    generated CTE chain in DuckDB. Per iteration: one vectorized
    assignment against the k-row centroid relation + one
    partial-combined groupBy; the ONLY driver traffic is the k-row
    centroid relation (seeding TakeOrdered + per-round Arrow embed —
    the bounded CC-scalar class). Output: per-cell size, inertia, and the 64
    centroid coordinates exploded."""
    from rehiver_spark.operators.vectorops import kmeans_quantized

    e = tables(spark, sf_dir, ["embeddings"])["embeddings"]
    r = kmeans_quantized(
        e, dim=_KM_DIM, k=_KM_K, n_iter=_KM_ITER, scale=_KM_SCALE
    )
    return r.select(
        "cell",
        "n_members",
        "inertia",
        F.posexplode("c").alias("i", "coord"),
    ).select(
        "cell",
        "n_members",
        "inertia",
        F.col("i").cast("bigint").alias("i"),
        "coord",
    )


# ---------------------------------------------------------------------------
# X52 — streaming Count-Min (sketch counters as stream state)
# ---------------------------------------------------------------------------


def _x52_sql() -> str:
    from rehiver_spark.operators.sketches import cm_bucket_sql

    uid = "CAST(user_id AS VARCHAR)"
    rows = " UNION ALL ".join(
        f"SELECT {i} AS row, {cm_bucket_sql(uid, i, _CM_W)} AS bucket "
        "FROM events" for i in range(_CM_D)
    )
    probes = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row, {cm_bucket_sql(uid, i, _CM_W)} AS bucket "
        "FROM us" for i in range(_CM_D)
    )
    return f"""
    WITH sk AS (
      SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM ({rows}) GROUP BY row, bucket
    ),
    us AS (SELECT DISTINCT user_id FROM events WHERE user_id % 20 = 7),
    probes AS ({probes})
    SELECT user_id, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
    FROM probes LEFT JOIN sk USING (row, bucket)
    GROUP BY user_id
    """


@query("x52_stream_cm", _x52_sql())
def x52_stream_cm(spark, sf_dir):
    """X52: Count-Min counters AS STREAMING STATE — the X44 companion
    (HLL tracks distincts, CM tracks frequencies): per-user event
    frequency maintained by Structured Streaming (file source →
    explode d bucket rows → groupBy(row, bucket).count in complete
    mode → AvailableNow → memory sink), probed from the sink for a
    pinned user set. Per-trigger state is capped at d·w counter rows
    regardless of stream volume; counters merge across streams by sum.
    Counting is order-insensitive, so the batch SQL twin reproduces
    the STREAMED counters — and every estimate — exactly."""

    from rehiver_spark.operators.sketches import cm_estimate, cm_sketch
    from rehiver_spark.queries import scratch_dir
    from rehiver_spark.session import read_events
    from rehiver_spark.streaming.windows import (
        read_file_stream,
        run_available_now,
        stage_stream_source,
        suggest_state_partitions,
    )

    ev = read_events(spark, sf_dir)
    scratch = scratch_dir("x52", sf_dir)
    src = f"{scratch}/src"
    # natural-width staging, 2-trigger cadence preserved (r13, the
    # c17e pattern — receipts in OPTIMIZATION_r13.md)
    _, src_bytes, mfpt = stage_stream_source(ev.select("user_id"), src)
    schema = spark.read.parquet(src).schema
    sdf = read_file_stream(spark, src, schema, max_files_per_trigger=mfpt)
    uid = F.col("user_id").cast("string")
    # the SAME cm_sketch the batch path certifies — its explode+groupBy
    # body is stateless-transform + aggregation, streaming-legal as-is
    # (a re-implementation here drifted from the sketch layout once).
    # State is d·w counter rows → size the store count to the input
    # (x44's measured 2.3× win), not the session shuffle width
    counters = cm_sketch(sdf.select(uid.alias("item")), depth=_CM_D, width=_CM_W)
    sink = run_available_now(
        counters,
        checkpoint=f"{scratch}/ckpt",
        state_partitions=suggest_state_partitions(spark, src_bytes),
    )
    qs = (
        ev.filter(F.col("user_id") % 20 == 7)
        .select(uid.alias("item"))
        .distinct()
    )
    est = cm_estimate(sink, qs, depth=_CM_D, width=_CM_W)
    return est.select(F.col("item").cast("bigint").alias("user_id"), "est")


# ---------------------------------------------------------------------------
# X53 — ANN recall audit (IVF vs exact brute force)
# ---------------------------------------------------------------------------


def _x53_sql() -> str:
    from rehiver_spark.queries import ORACLE

    bf, iv = ORACLE["x3_cosine_topk"], ORACLE["x10_ivf_topk"]
    return f"""
    WITH bf AS (SELECT * FROM ({bf}) WHERE query_id < 5000),
    iv AS (SELECT * FROM ({iv}) WHERE query_id < 5000),
    hits AS (
      SELECT bf.query_id, CAST(count(*) AS BIGINT) AS h
      FROM bf JOIN iv ON bf.query_id = iv.query_id AND bf.vec_id = iv.vec_id
      GROUP BY bf.query_id
    ),
    qs AS (SELECT DISTINCT query_id FROM bf)
    SELECT qs.query_id, coalesce(h, 0) AS hits_at_5,
      round(coalesce(h, 0) / 5.0, 4) AS recall_at_5
    FROM qs LEFT JOIN hits USING (query_id)
    """


@query("x53_ann_recall", _x53_sql())
def x53_ann_recall(spark, sf_dir):
    """X53: self-auditing retrieval quality — recall@5 of the IVF ANN
    index (X10) against the exact brute-force baseline (X3), per
    query. This is the production acceptance gate every approximate
    index needs before it replaces the exact path at 100 TB; both
    sides are deterministic (fixed seeding, pinned tie-breaks), so the
    metric itself is oracle-exact — composed from the SAME registered
    queries and oracle SQL the two operators already certify (the
    x19/x21 composition discipline). The join is |queries|·k rows:
    driver-free, broadcast-trivial."""
    from rehiver_spark.queries import QUERIES

    # pin the audited query set (query_id < 5000 → ≤200 queries at any
    # scale): x3/x10's own fixtures grow the query count with the
    # corpus, which would make this audit measure |queries|·|corpus|
    # fixture inflation instead of the operator (the x39 lesson —
    # un-pinned, the sf10 row ran >15 min)
    bf = (
        QUERIES["x3_cosine_topk"](spark, sf_dir)
        .filter(F.col("query_id") < 5000)
        .select("query_id", "vec_id")
    )
    iv = (
        QUERIES["x10_ivf_topk"](spark, sf_dir)
        .filter(F.col("query_id") < 5000)
        .select("query_id", "vec_id")
    )
    hits = (
        bf.join(iv, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("h"))
    )
    qs = bf.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("hits_at_5"),
        F.round(F.coalesce(F.col("h"), F.lit(0)) / 5.0, 4).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# X54 — end-to-end pipeline yield report (dedup ∘ decontaminate ∘ quality)
# ---------------------------------------------------------------------------

_X54_QUAL = 0.66
_X54_CONT = 0.5


def _x54_sql() -> str:
    from rehiver_spark.queries import ORACLE

    ded, cont, q4 = (
        ORACLE["x1_exact_dedup"],
        ORACLE["x15_contamination"],
        ORACLE["x4_text_stats"],
    )
    return f"""
    WITH ded AS (SELECT * FROM ({ded})),
    cont AS (
      SELECT DISTINCT doc_id FROM ({cont}) WHERE containment >= {_X54_CONT}
    ),
    q4 AS (SELECT doc_id, n_tokens, quality FROM ({q4})),
    st AS (
      SELECT d.source, ded.is_keeper,
        (cont.doc_id IS NOT NULL) AS contaminated,
        (q4.quality >= {_X54_QUAL}) AS good, q4.n_tokens
      FROM documents d
      JOIN ded ON ded.doc_id = d.doc_id
      LEFT JOIN cont ON cont.doc_id = d.doc_id
      JOIN q4 ON q4.doc_id = d.doc_id
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END) AS BIGINT)
        AS dropped_dup,
      CAST(sum(CASE WHEN is_keeper AND contaminated THEN 1 ELSE 0 END) AS BIGINT)
        AS dropped_contam,
      CAST(sum(CASE WHEN is_keeper AND NOT contaminated AND NOT good
               THEN 1 ELSE 0 END) AS BIGINT) AS dropped_quality,
      CAST(sum(CASE WHEN is_keeper AND NOT contaminated AND good
               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN is_keeper AND NOT contaminated AND good
               THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM st GROUP BY source
    """


@query("x54_pipeline_yield", _x54_sql())
def x54_pipeline_yield(spark, sf_dir):
    """X54: the end-to-end curation yield report — exact dedup (X1) ∘
    benchmark decontamination (X15) ∘ quality floor (X4), attributed
    SEQUENTIALLY per source: every document is counted in exactly one
    bucket (dup → contaminated → low-quality → kept), with the kept
    token volume — the data card a 100 TB curation run publishes.
    Composed from the registered queries themselves (the x53
    discipline: the Spark pipeline AND the oracle SQL both reuse the
    certified pieces, so this query certifies the COMPOSITION, not a
    re-implementation). One corpus pass per stage, all stage outputs
    joined on doc_id; aggregation is a tiny per-source rollup."""
    from rehiver_spark.queries import QUERIES

    d = tables(spark, sf_dir, ["documents"])["documents"]
    ded = QUERIES["x1_exact_dedup"](spark, sf_dir).select("doc_id", "is_keeper")
    cont = (
        QUERIES["x15_contamination"](spark, sf_dir)
        .filter(F.col("containment") >= _X54_CONT)
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    q4 = QUERIES["x4_text_stats"](spark, sf_dir).select(
        "doc_id", "n_tokens", (F.col("quality") >= _X54_QUAL).alias("good")
    )
    st = (
        d.select("doc_id", "source")
        .join(ded, "doc_id")
        .join(cont, "doc_id", "left")
        .join(q4, "doc_id")
        .select(
            "source",
            "is_keeper",
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
            "good",
            "n_tokens",
        )
    )
    kept = F.col("is_keeper") & ~F.col("contaminated") & F.col("good")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return st.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        one(~F.col("is_keeper")).alias("dropped_dup"),
        one(F.col("is_keeper") & F.col("contaminated")).alias("dropped_contam"),
        one(
            F.col("is_keeper") & ~F.col("contaminated") & ~F.col("good")
        ).alias("dropped_quality"),
        one(kept).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
    )


# ---------------------------------------------------------------------------
# X55 — sketch-driven outlier filtering (X47 ∘ filter)
# ---------------------------------------------------------------------------


def _x55_sql() -> str:
    from rehiver_spark.queries import ORACLE

    q47 = ORACLE["x47_hdr_quantiles"]
    return f"""
    WITH thr AS (
      SELECT source, est AS p99 FROM ({q47}) WHERE q = '99/100'
    ),
    vals AS (SELECT source, doc_id, length(text) AS v FROM documents)
    SELECT v.source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN v.v <= thr.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN v.v > thr.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      round(thr.p99, 6) AS p99_threshold
    FROM vals v JOIN thr ON v.source = thr.source
    GROUP BY v.source, thr.p99
    """


@query("x55_sketch_filter", _x55_sql())
def x55_sketch_filter(spark, sf_dir):
    """X55: percentile outlier filtering WITHOUT exact quantiles —
    per-source p99 length thresholds come from the X47 HDR sketch
    (fixed-size state, one capped shuffle) and broadcast back against
    the corpus; at 100 TB this replaces an exact per-group
    percentile (full sort or percentile_approx over every group) with
    sketch-then-filter: two linear passes, no sort anywhere. Composed
    from the certified X47 query and its SQL (x53/x54 discipline);
    threshold error is bounded by the sketch's ≤3% relative-error
    guarantee, and the report counts kept vs outlier docs per source."""
    from rehiver_spark.queries import QUERIES

    d = tables(spark, sf_dir, ["documents"])["documents"]
    thr = (
        QUERIES["x47_hdr_quantiles"](spark, sf_dir)
        .filter(F.col("q") == "99/100")
        .select("source", F.col("est").alias("p99"))
    )
    vals = d.select("source", "doc_id", F.length("text").alias("v"))
    j = vals.join(F.broadcast(thr), "source")
    return j.groupBy("source", "p99").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("v") <= F.col("p99"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("v") > F.col("p99"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_outliers"),
    ).select(
        "source", "n_docs", "n_kept", "n_outliers",
        F.round("p99", 6).alias("p99_threshold"),
    )


# ---------------------------------------------------------------------------
# X56 — streaming HDR quantiles (bucket counters as stream state)
# ---------------------------------------------------------------------------


def _x56_sql() -> str:
    from rehiver_spark.operators.sketches import hdr_bucket_sql

    s = _HDR_SUB
    b = hdr_bucket_sql("length(text)", s)
    mid = (
        f"CASE WHEN bucket = -1 THEN 0.0 ELSE "
        f"power(2.0, CAST(bucket // {s} AS DOUBLE))"
        f" * ({2 * s} + 2 * (bucket % {s}) + 1) / {float(2 * s)} END"
    )
    return f"""
    WITH sk0 AS (
      SELECT {b} AS bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1
    ),
    sk AS (SELECT * FROM sk0 WHERE bucket >= -1),
    tot AS (SELECT sum(cnt) AS n FROM sk),
    cum AS (
      SELECT bucket, n, sum(cnt) OVER (ORDER BY bucket) AS cum
      FROM sk, tot
    ),
    qs(qn, qd) AS (VALUES (1, 2), (9, 10), (99, 100)),
    sel AS (
      SELECT qn, qd, min(bucket) AS bucket
      FROM cum, qs WHERE cum * qd >= n * qn
      GROUP BY qn, qd
    )
    SELECT qn || '/' || qd AS q, round({mid}, 6) AS est
    FROM sel
    """


@query("x56_stream_hdr", _x56_sql())
def x56_stream_hdr(spark, sf_dir):
    """X56: HDR bucket counters AS STREAMING STATE — the third member
    of the streaming-sketch family (X44 HLL distincts, X52 CM
    frequencies, X56 quantiles): global document-length p50/p90/p99
    maintained by Structured Streaming (file source → hdr_sketch's
    groupBy(bucket).count in complete mode → AvailableNow → memory
    sink), estimated from the sink. Per-trigger state is capped at
    S·50 bucket rows regardless of stream volume; counting is
    order-insensitive, so the batch SQL twin reproduces the STREAMED
    counters — and the quantile estimates — exactly."""

    from rehiver_spark.operators.sketches import hdr_quantiles, hdr_sketch
    from rehiver_spark.queries import scratch_dir
    from rehiver_spark.streaming.windows import (
        read_file_stream,
        run_available_now,
        stage_stream_source,
        suggest_state_partitions,
    )

    d = tables(spark, sf_dir, ["documents"])["documents"]
    scratch = scratch_dir("x56", sf_dir)
    src = f"{scratch}/src"
    # natural-width staging, 2-trigger cadence preserved (r13, the
    # c17e pattern — receipts in OPTIMIZATION_r13.md)
    _, src_bytes, mfpt = stage_stream_source(
        d.select(F.length("text").alias("v")), src
    )
    schema = spark.read.parquet(src).schema
    sdf = read_file_stream(spark, src, schema, max_files_per_trigger=mfpt)
    counters = hdr_sketch(sdf, "v", sub=_HDR_SUB)
    # S·50 bucket rows of state — sized store count (the x44 win)
    sink = run_available_now(
        counters,
        checkpoint=f"{scratch}/ckpt",
        state_partitions=suggest_state_partitions(spark, src_bytes),
    )
    return hdr_quantiles(sink, [(1, 2), (9, 10), (99, 100)], sub=_HDR_SUB).select(
        "q", "est"
    )


# ---------------------------------------------------------------------------
# X57 — exact substring dedup at any alignment (stride-1 windows)
# ---------------------------------------------------------------------------

_SSD_L = 15


def _x57_sql() -> str:
    from rehiver_spark.functions.hashing import md5_hash60_sql

    L = _SSD_L
    h = md5_hash60_sql(f"array_to_string(t[i:i+{L - 1}], ' ')")
    return f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    occ AS (
      SELECT doc_id, i AS pos, {h} AS hh
      FROM base, unnest(range(1, greatest(len(t) - {L} + 1, 0) + 1)) AS u(i)
    ),
    cut AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
          row_number() OVER (PARTITION BY hh ORDER BY doc_id, pos) AS rn
        FROM occ
      ) WHERE rn > 1
    ),
    isl AS (
      SELECT doc_id, pos,
        sum(new) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM (
        SELECT doc_id, pos,
          CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS new
        FROM (
          SELECT doc_id, pos,
            max(pos + {L}) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM cut
        )
      )
    ),
    iv AS (
      SELECT doc_id, g, min(pos) AS s, max(pos) + {L} AS e
      FROM isl GROUP BY doc_id, g
    ),
    tok_rows AS (
      SELECT doc_id, i AS idx, t[i] AS tok
      FROM base, unnest(range(1, len(t) + 1)) AS u(i)
    ),
    kept AS (
      SELECT tr.doc_id, tr.idx, tr.tok FROM tok_rows tr
      WHERE NOT EXISTS (
        SELECT 1 FROM iv
        WHERE iv.doc_id = tr.doc_id AND tr.idx >= iv.s AND tr.idx < iv.e
      )
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS cleaned,
        CAST(count(*) AS BIGINT) AS n_after
      FROM kept GROUP BY doc_id
    ),
    spans AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM iv GROUP BY doc_id)
    SELECT b.doc_id,
      substr(sha256(coalesce(r.cleaned, '')), 1, 16) AS cleaned_sha16,
      CAST(coalesce(len(b.t), 0) AS BIGINT) AS n_tokens_before,
      CAST(coalesce(r.n_after, 0) AS BIGINT) AS n_tokens_after,
      CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_cut_spans
    FROM base b
    LEFT JOIN rebuilt r USING (doc_id)
    LEFT JOIN spans s USING (doc_id)
    """


@query("x57_substring_dedup", _x57_sql())
def x57_substring_dedup(spark, sf_dir):
    """X57: exact substring dedup at ANY alignment (Lee et al. 2021
    semantics restricted to runs ≥ L tokens): every stride-1 L-token
    window is hashed, duplicated window text keeps only its globally
    first occurrence, every other occurrence's token range is excised
    (gaps-and-islands interval merge), and documents are rebuilt from
    surviving tokens. The stride-1 upgrade of X23's fixed-stride span
    dedup — catches duplicated passages wherever they start. Two
    corpus-token-sized shuffles (window-hash keep-first + per-doc
    reconstruction), the honest suffix-dedup cost profile; pinned
    EXACTLY against a pure-Python reference in tests."""
    from rehiver_spark.operators.textops import dedup_substrings

    d = tables(spark, sf_dir, ["documents"])["documents"]
    out = dedup_substrings(d, window_tokens=_SSD_L)
    return out.select(
        "doc_id",
        F.substring(F.sha2(F.col("cleaned_text"), 256), 1, 16).alias(
            "cleaned_sha16"
        ),
        "n_tokens_before",
        "n_tokens_after",
        "n_cut_spans",
    )
