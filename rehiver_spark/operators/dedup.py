"""Deduplication operators: exact, shingle-Jaccard, MinHash-LSH, SimHash.

Charter extension set (SURVEY §2 X1/X2) — dedup over document tables is
the workhorse of LLM training-data pipelines. Design rules for 100 TB:

- NEVER all-pairs. Exact Jaccard pairs come from a *prefix-filtered
  join* on shared shingles (PPJoin: a pair with J ≥ t must share a
  shingle within each side's rarest-first prefix, so joining on prefix
  shingles is lossless); candidates are then exact-verified with
  ``array_intersect``.
- The approximate scale path (MinHash-LSH banding) only reduces the
  candidate set; candidates are always exact-verified, so returned
  pairs are a subset of the exact answer with tunable recall.
- Deterministic keeps: row_number over an explicit total order, never
  dropDuplicates (C16 rule).

The MinHash sketch has one form: the portable 60-bit md5 hash
(functions/hashing.py), which any SQL engine computes bit-identically,
so the sketch itself is oracle-checkable. SimHash defaults to Spark's
xxhash64 (JVM-side; measured faster there) and accepts ``hash_fn="md5"``
for the same portability. Exact paths never hash at all
(dictionary-encoded ids, sha256 keys).

CACHING CONTRACT: the prefix-Jaccard, MinHash and SimHash pair
operators persist their shingle/signature projection because the
plan reads it 2-4 times (candidate generation plus both verify sides);
dropping the cache measures 8-24% slower (x2 +20%, x8 +24% at sf0.1).
The returned DataFrames are lazy, so these handles cannot be
unpersisted in-function; every one is registered through
``session.track_persist``, so a long-lived session releases exactly
the operator caches — leaving its own unrelated caches intact — with
``rehiver_spark.session.release_persisted()`` (tested in
test_dedup.py). The bench's ``spark.catalog.clearCache()`` between
queries and Spark's LRU block eviction still bound them otherwise —
each is a projection of the operator's input, small relative to the
data being deduped.
"""

from __future__ import annotations

import logging
import math
import os

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rehiver_spark.functions.hashing import md5_hash60, md5_hash60_py, md5_hash60_spark_sql
from rehiver_spark.operators.textops import (
    ngrams_sql, normalize_text, on_tokens, sql_name, tokens,
)
from rehiver_spark.session import ensure_parallelism, track_persist

# Scale gate for the pair operators' bucket self-joins (r13, guide §3.1):
# at corpus scale Catalyst's size estimate for the exploded key relation
# (prefix hashes / LSH bands / SimHash block keys) undershoots the
# autoBroadcast threshold ~10x, so the planner builds a BroadcastHashJoin
# whose hash map is hundreds of MiB — and the collision enumeration
# (sf10: ~5e8 probes for x8) becomes cache-miss-bound. Forcing sort-merge
# for the SAME join enumerates collisions from sorted runs sequentially:
# measured 13.8 s → 4.1 s (x8 blocking phase, sf10). At small scale the
# broadcast IS faster (no exchange at all; forcing merge cost x8 +1.2 s
# at sf0.1), so the hint is gated on the BASE corpus relation's estimate
# — which comes from parquet scan sizes and tracks scale faithfully,
# unlike the derived subtree's. Threshold: measured estimates are 0.5 MiB
# (sf0.1) / 6 MiB (sf1) / 65 MiB (sf10); 32 MiB puts only sf10-class
# corpora on the merge path.
_SELFJOIN_MERGE_MIN_EST_BYTES = 32 << 20


def _big_corpus(df: DataFrame) -> bool:
    """True when ``df``'s Catalyst size estimate says the corpus is big
    enough that the pair operators' bucket self-joins must be planned
    sort-merge (see module comment above). Runs no job; on any
    estimate failure assumes BIG — the scale-safe default (a forced
    sort-merge on a small corpus costs ~a second; a misplanned
    broadcast on a big one costs 3x the join, or an OOM at real scale).
    """
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return True
    return est >= _SELFJOIN_MERGE_MIN_EST_BYTES


# ---------------------------------------------------------------------------
# X1 — exact dedup by normalized content hash
# ---------------------------------------------------------------------------


def content_hash(col: Column | str) -> Column:
    """sha256 hex of the normalized text — the exact-dedup key."""
    return F.sha2(normalize_text(col), 256)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mark exact duplicates: adds ``content_sha``, ``is_keeper`` (the
    minimum id per hash survives), ``dup_count`` (group size).

    Plan: one shuffle on the hash; window row_number + count over the
    same partitioning (single exchange reused for both window specs).
    """
    h = content_hash(F.col(text_col))
    w = Window.partitionBy("content_sha").orderBy(F.col(id_col).asc())
    wall = Window.partitionBy("content_sha")
    return (
        df.withColumn("content_sha", h)
        .withColumn("is_keeper", F.row_number().over(w) == 1)
        .withColumn("dup_count", F.count("*").over(wall))
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated relation itself (keepers only)."""
    return exact_dedup(df, text_col, id_col).filter("is_keeper").drop(
        "is_keeper", "dup_count"
    )


# ---------------------------------------------------------------------------
# shingles + exact Jaccard pairs (X2 exact form)
# ---------------------------------------------------------------------------


def _shingles_sql(t: str, k: int) -> str:
    """Spark SQL text of :func:`shingles` over the bound token array ``t``."""
    return f"if(size({t}) = 0, array(''), array_distinct({ngrams_sql(t, k)}))"


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text.

    Documents shorter than k tokens contribute their whole token
    sequence as a single shingle (so no document is unshingled; an
    empty document yields the single empty shingle [""]); a NULL text
    has NULL shingles.

    The distinct-set form of textops.word_ngrams (which documents the
    zip_with construction — ~5x cheaper than per-position slices). The
    token array is computed once per row and the shingle expression is
    one SQL string (textops.on_tokens): the inline Column form ran the
    regexp/split/filter chain ~6 times per row (20k docs, noop write,
    median of 6: 4.18 → 2.15 s on 4 cores).
    """
    return on_tokens(col, _shingles_sql("t", k))


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """EXACT above-threshold Jaccard pairs, never a cartesian product.

    PRECONDITION: ``shingle_col`` holds SET-valued arrays (no duplicate
    elements), as produced by :func:`shingles`. Jaccard is a set
    measure; on arrays with duplicates the overlap count is not
    meaningful.

    PPJoin-style prefix filtering. Each doc's shingles are ordered by
    ascending global frequency; if J(A,B) ≥ t then |A∩B| ≥ t·|A|, so A
    and B must share an element within their first ``n - ceil(t·n) + 1``
    shingles — the candidate join touches ONLY those prefixes (rare
    shingles first, so hot-shingle skew is excluded from the join by
    construction), then candidates are exact-verified with
    array_intersect. Lossless.

    ``max_shingle_freq`` drops shingles shared by more than N docs
    before pairing — the documented approximation for stop-shingles
    (default off so the oracle-checked form stays exact). Jaccard and
    the set sizes are then taken over the filtered sets.

    Output: id_a, id_b, n_common, n_a, n_b, jaccard — ordered by caller.

    Plan: explode → hash each shingle to BIGINT (xxhash64, join-key and
    ordering domain) → global hash frequency (map-side-combinable agg)
    → per-doc rank by (freq, hash) → keep prefix → candidate self-join
    on prefix hashes → verify candidates via array_intersect on the
    ORIGINAL string shingle arrays. Hash collisions can only merge two
    distinct shingles into one candidate key — which *adds* candidate
    pairs, never loses one (a truly shared shingle always hashes equal,
    and J_hash ≥ J_string so the prefix bound still holds) — and exact
    string verification removes any extras, so the result is exact with
    no dictionary pass (the assigned-id design cost 2 extra shuffles +
    a vocab-wide sort + a collect_list regroup).
    """
    df = ensure_parallelism(df)
    sized = track_persist(
        df.select(F.col(id_col).alias("_id"), F.col(shingle_col).alias("_sh"))
        .withColumn("_n", F.size("_sh"))
        # shingling is the expensive expression; consumed by the
        # exploded stream AND both verify sides — compute it once
    )
    ex = sized.select("_id", "_n", F.explode("_sh").alias("_str")).select(
        "_id", "_n", F.xxhash64("_str").alias("_s")
    )
    if max_shingle_freq is not None:
        # hot filter operates on hashes; verification must then use the
        # same filtered sets, so this branch regroups hashed arrays
        # (max_shingle_freq is the documented approximation already)
        hot = (
            ex.groupBy("_s").agg(F.count("*").alias("_f"))
            .filter(F.col("_f") > max_shingle_freq)
            .select("_s")
        )
        regrouped = track_persist(
            ex.join(F.broadcast(hot), "_s", "left_anti")
            .groupBy("_id")
            .agg(F.collect_list("_s").alias("_sh"), F.count("*").alias("_n"))
        )  # consumed by freq, ranked, and both verify sides
        ex = regrouped.select(
            "_id", "_n", F.explode("_sh").alias("_s")
        )
        sized = regrouped
    # global frequency via a count window over the shingle hash — never
    # materializes (or broadcasts) the vocabulary, which at 100 TB is
    # billions of entries; the shuffle is by hash, so hot shingles are
    # single large (sort-spillable) partitions, not a broadcast OOM
    wf = Window.partitionBy("_s")
    w = Window.partitionBy("_id").orderBy(F.col("_f").asc(), F.col("_s").asc())
    ranked = ex.withColumn("_f", F.count("*").over(wf)).withColumn(
        "_pos", F.row_number().over(w)
    )
    # prefix length: n - ceil(t*n) + 1 (J>=t ⟹ |A∩B| >= t*|A|, so a
    # match must appear within the first n - ceil(t*n) + 1 elements)
    plen = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    pref = ranked.filter(F.col("_pos") <= plen).select("_id", "_n", "_s")
    # PPJoin+ length filter (r13): J(A,B) >= t ⟹ |B| >= |A∩B| >= t·|A∪B|
    # >= t·|A| (and symmetrically), so size-incompatible prefix
    # collisions are dropped INSIDE the candidate join — before the
    # distinct and before any shingle array moves. Exact: the bound is
    # a necessary condition, so no true pair is lost (the 1e-6 slack
    # absorbs float error in t·n in the lossless direction — ceil can
    # only come out smaller, i.e. under-prune). Integer sizes make
    # |B| >= t·|A| equivalent to |B| >= ceil(t·|A|).
    min_b = F.ceil(F.lit(threshold) * F.col("_na") - F.lit(1e-6))
    min_a = F.ceil(F.lit(threshold) * F.col("_nb") - F.lit(1e-6))
    # r13: big corpora force sort-merge for the prefix self-join — same
    # misestimated-broadcast finding as _lsh_band_candidates (sf10: 7M
    # prefix rows, 768 MiB actually built and probed ~1e9 times;
    # receipts in OPTIMIZATION_r13.md). See _big_corpus.
    pref_b = pref.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"), "_s")
    if _big_corpus(df):
        pref_b = pref_b.hint("merge")
    cand = (
        pref.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"), "_s")
        .join(
            pref_b,
            "_s",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("_nb") >= min_b)
            & (F.col("_na") >= min_a)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = sized.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"), F.col("_n").alias("n_a"))
    b = sized.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"), F.col("_n").alias("n_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return verified.filter(F.col("jaccard") >= F.lit(threshold)).select(
        "id_a", "id_b", "n_common", "n_a", "n_b", "jaccard"
    )


def containment_pairs(
    docs: DataFrame,
    bench: DataFrame,
    doc_id: str = "doc_id",
    bench_id: str = "bench_id",
    text_col: str = "text",
    k: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: (document, benchmark item) pairs that
    share ≥ ``min_shared`` distinct word k-grams, with the containment
    score |D ∩ B| / |B| — the standard train/test-overlap check run
    before training (near-dup Jaccard is symmetric; contamination is
    asymmetric: a 10-line benchmark item buried in a 10-page document
    has tiny Jaccard but containment 1.0).

    Scale shape: the benchmark side is small by construction, so its
    exploded k-grams BROADCAST; the corpus streams through one
    broadcast join and only matching (doc, bench, gram) rows reach the
    pair aggregation — the 100 TB corpus is never shuffled. Blocking is
    lossless (containment > 0 ⟺ ≥ 1 shared k-gram).

    Output: (doc_id, bench_id, n_shared, n_bench, containment).
    """
    dgx = docs.select(
        F.col(doc_id).alias("id_doc"),
        F.explode(shingles(text_col, k)).alias("_g"),
    )
    bg = bench.select(
        F.col(bench_id).alias("id_bench"), shingles(text_col, k).alias("_bg")
    )
    sizes = bg.select("id_bench", F.size("_bg").alias("n_bench"))
    bgx = bg.select("id_bench", F.explode("_bg").alias("_g"))
    shared = (
        dgx.join(F.broadcast(bgx), "_g")
        .groupBy("id_doc", "id_bench")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        shared.join(F.broadcast(sizes), "id_bench")
        .withColumn("containment", F.col("n_shared") / F.col("n_bench"))
        .select(
            F.col("id_doc").alias(doc_id),
            F.col("id_bench").alias(bench_id),
            "n_shared",
            "n_bench",
            "containment",
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding (X2 scale path; approximate candidate generation,
# exact verification)
# ---------------------------------------------------------------------------


_MH_P = 2147483647  # 2^31 - 1 (Mersenne prime, the affine modulus)
_MH_DOMAIN = 1 << 30  # base-hash domain; a*h + c stays < 2^61 (exact int64)


def minhash_affine_consts(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, c_i) for the universal-hash family
    h_i(x) = (a_i·base(x) + c_i) mod P — md5-derived, no RNG state, so
    the same literals embed in a SQL oracle."""
    a = [md5_hash60_py(f"mh-a:{seed}:{i}") % (_MH_P - 1) + 1 for i in range(num_hashes)]
    c = [md5_hash60_py(f"mh-c:{seed}:{i}") % _MH_P for i in range(num_hashes)]
    return a, c


def _shingle_ids_sql(sh: str, seed: int) -> str:
    """Spark SQL text of the ARRAY<BIGINT> shingle ids of the shingle
    array expression ``sh``: md5_hash60('<seed>:' || shingle), the
    60-bit portable hash (functions/hashing.md5_hash60_spark_sql) that
    is the sketch's base hash — one id per shingle, in array order."""
    base = md5_hash60_spark_sql(f"concat('{seed}:', x)")
    return f"transform({sh}, x -> {base})"


def _sketch_sql(ids: str, num_hashes: int, seed: int) -> str:
    """Spark SQL text of the MinHash signature of the shingle-id array
    expression ``ids`` (:func:`_shingle_ids_sql`) — the ONE sketch
    builder, shared by :func:`minhash_signature` (ids hashed from a
    shingle column) and :func:`minhash_neardup_pairs` (ids cached once
    and also verified on), so both give bit-identical signatures."""
    a_co, c_co = minhash_affine_consts(num_hashes, seed)
    mins = ", ".join(
        f"coalesce(array_min(transform(hs, h -> (h * {a} + {c}) % {_MH_P})), {_MH_P})"
        for a, c in zip(a_co, c_co)
    )
    return (
        f"transform(array(transform({ids}, x -> x % {_MH_DOMAIN})), "
        f"hs -> if(hs IS NULL, NULL, array({mins})))[0]"
    )


def minhash_signature(
    shingle_col: str,
    num_hashes: int = 32,
    seed: int = 42,
) -> Column:
    """ARRAY<BIGINT> MinHash signature of the shingle array in column
    ``shingle_col`` (a name; a Column raises ``TypeError``): per hash
    function i, the minimum h_i(shingle) over the shingle set.

    The portable, oracle-checkable sketch (Broder-style): ONE md5 base
    hash per shingle — its 60-bit id (:func:`_shingle_ids_sql`) —
    reduced to 2^30, then num_hashes affine universal hashes
    (a_i·h + c_i) mod (2^31-1) in exact int64 arithmetic — any SQL
    engine reproduces the sketch bit-for-bit, and the md5 count drops
    num_hashes-fold vs hashing per (i, shingle). ``transform`` computes
    the base-hash array once per row, and a one-element ``transform``
    binds it to a lambda variable, so each of the num_hashes
    ``array_min(transform(...))`` minima reads the bound array instead
    of re-hashing (:func:`_sketch_sql`, the builder
    :func:`minhash_neardup_pairs` shares). An ``aggregate``/``zip_with``
    fold over literal (a_i, c_i) structs gives the same values but
    measured slower (signature projection 1.37 vs 1.26 s, x7p corpus at
    sf0.1, 4 cores).

    ONE Spark SQL expression, built with a single ``F.expr`` call (see
    ``textops.sql_name``), and runs inside one map-only projection: no
    pandas UDF (the pre-r12 hashlib form measured 87 s standalone at
    sf10 where the JVM form takes ~4.5 s), no explode, and NO shuffle:
    the row never leaves its partition, so at small scale there is no
    stage floor to amortize (the r11 x34 envelope breach) and at large
    scale the hash-aggregate Exchange of an explode + min-aggregate form
    disappears entirely. A NULL array has a NULL signature; an empty one
    (shingles() never makes one: it guarantees [""]) has 2^31-1 in every
    component.
    """
    ids = _shingle_ids_sql(sql_name(shingle_col), seed)
    return F.expr(_sketch_sql(ids, num_hashes, seed))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """``(id, sig array<bigint>)`` — the DataFrame-level signature
    entrypoint, a map-only projection of the :func:`minhash_signature`
    Column form.

    Since r12 this is the scale path for every consumer: the Column
    form runs entirely JVM-side with NO shuffle (the r11 explode +
    min-agg shape paid a hash-aggregate Exchange whose stage floor
    broke the x34 sf0.1 envelope), and measured faster at BOTH ends —
    sf0.1 corpus 2.37→0.83 s, sf10 450k docs 10.96→8.28 s.
    """
    return df.select(
        F.col(id_col),
        minhash_signature(shingle_col, num_hashes, seed).alias("sig"),
    )


def _band_keys(sig_col: str, num_hashes: int, bands: int) -> Column:
    """ARRAY<STRUCT<band INT, bh BIGINT>> of LSH band bucket keys over
    the minhash signature in column ``sig_col`` — the ONE definition of
    banding, shared by the batch self-join (:func:`lsh_candidates`) and
    the incremental index join (:func:`incremental_minhash_neardup`) so
    the two paths can never diverge on how a band hashes. The bucket
    key is xxhash64 of the band's signature values: it is an internal
    join key, so only tuple equality matters. One SQL expression, one
    gateway call (see ``textops.sql_name``)."""
    sig = sql_name(sig_col)
    r = num_hashes // bands
    structs = ", ".join(
        f"struct({bi} AS band, xxhash64("
        + ", ".join(f"element_at({sig}, {bi * r + j + 1})" for j in range(r))
        + ") AS bh)"
        for bi in range(bands)
    )
    return F.expr(f"array({structs})")


def lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs whose MinHash signatures collide in ≥1 LSH band.

    bands=b over r=num_hashes/b rows → collision prob ≈ 1-(1-J^r)^b.
    Plan: explode to (band, band_hash) keys → self-join on the band
    bucket → distinct pairs. One shuffle on the bucket key; hot buckets
    are bounded by band width (r rows hashed together). The band bucket
    key is xxhash64 of the band's signature values — it is an internal
    join key, so only tuple equality matters.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    # map-only JVM Column signatures (r12): no signature-stage shuffle
    # at all — the only Exchange left is the band-bucket self-join's
    sigs = minhash_signatures(df, id_col, shingle_col, num_hashes, seed)
    return _lsh_band_candidates(
        sigs, id_col, num_hashes, bands, prefer_merge=_big_corpus(df)
    )


def _lsh_band_candidates(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int,
    prefer_merge: bool = False,
) -> DataFrame:
    """Distinct candidate pairs from a precomputed ``(id, sig)``
    relation — the banding half of :func:`lsh_candidates`, split out so
    :func:`minhash_neardup_pairs` can reuse ONE signature computation
    for banding AND the estimate pre-filter (r12)."""
    banded = sigs.select(
        F.col(id_col).alias("_id"),
        F.explode(_band_keys("sig", num_hashes, bands)).alias("b"),
    ).select("_id", "b.band", "b.bh")
    a = banded.withColumnRenamed("_id", "id_a")
    b = banded.withColumnRenamed("_id", "id_b")
    # prefer_merge (r13): the banded relation is corpus-sized × bands
    # (sf10: 5M rows, 472 MiB actually built) — see the _big_corpus
    # module comment for why big corpora must force sort-merge here.
    if prefer_merge:
        b = b.hint("merge")
    return (
        a.join(b, ["band", "bh"])
        .filter("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )


def sig_est_jaccard(sig_a: str, sig_b: str, num_hashes: int) -> Column:
    """The standard MinHash Jaccard estimator over the signature columns
    named ``sig_a`` and ``sig_b``: matching signature components /
    num_hashes — ONE definition shared by the batch pre-filter
    (:func:`minhash_neardup_pairs`) and the incremental index probe
    (:func:`incremental_minhash_neardup`). One SQL expression, one
    gateway call (see ``textops.sql_name``)."""
    return F.expr(
        f"size(filter(zip_with({sql_name(sig_a)}, {sql_name(sig_b)}, "
        f"(x, y) -> x = y), m -> m)) / {float(num_hashes)!r}D"
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """LSH-blocked, exact-verified near-dup pairs: generate candidates by
    MinHash banding, then compute TRUE Jaccard on candidates only and
    filter by threshold. Returned pairs ⊆ exact answer; recall governed
    by (num_hashes, bands) vs threshold. This is the 100 TB plan — the
    prefix join in ``jaccard_pairs`` touches every pair that shares a
    prefix shingle, LSH touches only banding collisions.

    Estimate gate (r12): before the exact verification join touches the
    wide shingle arrays, candidates are pre-filtered on the
    SIGNATURE-estimated Jaccard at ``threshold - margin`` — the
    signatures are already computed for banding, so the gate costs two
    narrow sig joins and saves the per-pair ``array_intersect`` for the
    banding false positives (bands=8/r=4 collides ~40% of J=0.5 pairs
    that the exact filter then discards). The margin scales with
    ``num_hashes``: the estimator's sd at the threshold is
    ~sqrt(t(1-t)/num_hashes) (binomial on matching components), so
    margin = 3.5·sqrt(threshold·(1-threshold)/num_hashes) — 0.2475 at
    the (t=0.8, n=32) defaults. Because the estimate is always a
    multiple of 1/num_hashes, that gate admits exactly the same
    signature-match counts as the r12 fixed 0.25 (both cut between
    17/32 and 18/32), so the committed oracles' literal ``>= 0.55``
    remains the bit-exact twin (pinned in tests/test_dedup.py). The
    gate is deterministic given the sketch, so a portable-md5 oracle
    reproduces it exactly (x7p/x29 embed the same gate in SQL). It only
    ever removes candidates: the result is a subset of the exact pairs
    with exact scores (pinned against a pure-Python all-pairs Jaccard).

    Integer verify: each row's shingles are cached as their 60-bit md5
    ids (:func:`_shingle_ids_sql`, the sketch's own base hash), so the
    signatures come from the same cached arrays through the one sketch
    builder (:func:`_sketch_sql`; bit-identical to
    :func:`minhash_signature` over the string shingles), and the verify
    join ships and intersects ``array<bigint>`` instead of string arrays
    (each of the two verify broadcasts of the perfbench seed-1 corpus
    shrank 32.0 → 4.0 MiB, built in 24–80 instead of 137–153 ms). Scores are exact unless two distinct shingles of one pair
    share a 60-bit id: for a union of u shingles that chance is about
    u²/2⁶¹ (~10⁻¹³ at u = 500), and a collision can only raise
    ``n_common`` by merging two shingles.
    """
    margin = 3.5 * math.sqrt(threshold * (1.0 - threshold) / num_hashes)
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    ids = on_tokens(text_col, _shingle_ids_sql(_shingles_sql("t", k), seed))
    sh = track_persist(
        ensure_parallelism(df).select(F.col(id_col).alias("_id"), ids.alias("_sh"))
    )  # read by the signatures AND both verify sides
    sigs = track_persist(
        sh.select("_id", F.expr(_sketch_sql("_sh", num_hashes, seed)).alias("sig"))
    )  # read by banding and both estimate sides
    big = _big_corpus(df)
    cand = _lsh_band_candidates(sigs, "_id", num_hashes, bands, prefer_merge=big)
    sa = sigs.withColumnsRenamed({"_id": "id_a", "sig": "_siga"})
    sb = sigs.withColumnsRenamed({"_id": "id_b", "sig": "_sigb"})
    if big:
        # r13: the sig relation's 32-long arrays build a 288 MiB
        # broadcast map (×2) at sf10 under the misestimate; SMJ
        # measured 2.51 vs 3.17 s on warm candidates (see
        # OPTIMIZATION_r13.md §12)
        sa, sb = sa.hint("merge"), sb.hint("merge")
    cand = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            sig_est_jaccard("_siga", "_sigb", num_hashes) >= F.lit(threshold - margin)
        )
        .select("id_a", "id_b")
    )
    a = sh.withColumnsRenamed({"_id": "id_a", "_sh": "_sha"})
    b = sh.withColumnsRenamed({"_id": "id_b", "_sh": "_shb"})
    # SQL text, like the sketch builders: a handful of gateway calls
    # where a withColumn chain makes ~150 (see textops.sql_name)
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr(
            "id_b", "id_a", "size(array_intersect(_sha, _shb)) AS n_common",
            "size(_sha) AS n_a", "size(_shb) AS n_b",
        )
        .selectExpr("*", "n_common / (n_a + n_b - n_common) AS jaccard")
    )
    return verified.filter(f"jaccard >= {float(threshold)!r}D").select(
        "id_a", "id_b", "n_common", "n_a", "n_b", "jaccard"
    )


def _cc_driver(spark, e: DataFrame, id_type, max_iter: int) -> DataFrame:
    """Driver-side branch of :func:`connected_components`: the SAME
    pointer-jumped min-label fixpoint, vectorized over numpy arrays.

    ``e`` is the one-direction, null-free pair list, already
    materialized by the caller's eager localCheckpoint, so the Arrow
    collect is a cache read. The solve symmetrizes it itself by
    concatenating both directions: duplicate and reversed pairs and
    self-loops repeat an edge or add a node's own label, neither of
    which changes ``np.minimum.at``, so no ``distinct`` is needed.
    Labels are INDICES into the sorted node-id array — the minimum
    index IS the minimum id, so the final ``ids[lab]`` is exactly the
    distributed branch's per-component min id (string ids included:
    numpy's sort order on unicode matches Spark's binary-collation
    ``min``). The returned local frame also carries ``cluster_size``,
    counted from the converged labels with ``np.bincount``, so
    :func:`fuzzy_dedup` labels its corpus with one join against it.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", id_type),
            StructField("cluster_id", id_type),
            StructField("cluster_size", LongType()),
        ]
    )
    tbl = e.toArrow()
    if tbl.num_rows == 0:
        return spark.createDataFrame([], schema=schema)
    fwd = np.asarray(tbl.column("a").to_pandas())
    rev = np.asarray(tbl.column("b").to_pandas())
    a = np.concatenate([fwd, rev])
    b = np.concatenate([rev, fwd])
    # both directions are present now, so every node occurs in `a`
    ids = np.unique(a)
    ia = np.searchsorted(ids, a)
    ib = np.searchsorted(ids, b)
    lab = np.arange(len(ids), dtype=np.int64)
    for _ in range(max_iter):
        new = lab.copy()
        np.minimum.at(new, ia, lab[ib])  # neighbor propagation
        new = np.minimum(new, new[new])  # pointer jump (chains halve)
        if np.array_equal(new, lab):
            size = np.bincount(lab, minlength=len(ids))[lab]
            out = pd.DataFrame({"doc_id": ids, "cluster_id": ids[lab], "cluster_size": size})
            return spark.createDataFrame(out, schema=schema)
        lab = new
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


# directed-edge budget of the driver solve is 2× this (both directions
# of every pair): 16 B/row int64 edges stay ≤ 128 MiB on the driver
_CC_DRIVER_EDGE_CAP = 4_000_000


_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _cc_driver_cap(avg_id_chars: float | None) -> int:
    """Most directed edges the driver solve of :func:`connected_components`
    admits. ``avg_id_chars`` is the average id length of string/binary
    ids, ``None`` for integral ids."""
    cap = 2 * _CC_DRIVER_EDGE_CAP
    if avg_id_chars is not None:
        # byte-aware cap (advisor r10): string/binary rows cost
        # ~2·avg_len utf8 bytes + Arrow offset overhead, so scale the
        # row cap down by the probed width ratio
        cap = max(1, int(cap * 16.0 / (2.0 * avg_id_chars + 16.0)))
    return cap


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster resolution: assign every node appearing in the
    pair list its component's minimum id as ``cluster_id``. Output:
    ``(doc_id, cluster_id)`` on both branches (:func:`_components`, the
    body shared with :func:`fuzzy_dedup`, also returns the driver
    solve's ``cluster_size``; projecting it away is free on that local
    frame).

    Near-dup detection yields PAIRS; dedup policy needs CLUSTERS (keep
    one representative per transitive group — A~B, B~C must retire two
    of {A,B,C} even if A~C was never emitted). This is min-label
    propagation: each round every node takes the smallest label among
    itself and its neighbors, converging in O(component diameter)
    rounds (bounded by ``max_iter``; raises if not converged so an
    incomplete clustering can never be silently returned).

    The path is chosen from the MEASURED pair count, read with
    ``DataFrame.observe`` off the one eager checkpoint of the pair list
    (together with the average id width for string/binary ids), so the
    dial runs no job of its own — and logged at INFO:

    - driver when twice the pair count — an upper bound on the distinct
      directed edges, so the branch admits no more than when it counted
      the symmetrized distinct edge list — is at most
      ``2 * _CC_DRIVER_EDGE_CAP``: the pair graph of a dedup run is
      corpus-TINY (only docs with a near-dup appear), while each
      distributed round pays whole-cluster latency (a shuffle join +
      an aggregation job); at sf10 the x17 pair graph is ~5×10⁵
      directed edges (BASELINE.md: 512,792) yet the round loop alone
      ran ~40 s. The driver solve Arrow-collects the (a, b) columns,
      symmetrizes them in numpy — two int64 arrays, 16 B per directed
      edge, ≤128 MiB at the cap (string doc ids are bigger per row —
      the cap scales itself down by the observed average id width, see
      :func:`_cc_driver_cap`) — and runs the SAME pointer-jumped
      min-label iteration vectorized (``np.minimum.at`` + one
      ``lab[lab]`` jump per round), so the fixpoint is identical by
      construction (test-pinned against the distributed branch).
    - distributed above the cap: node/edge data never leaves
      executors (the only driver-side value is a scalar convergence
      aggregate). A 100 TB near-dup graph with billions of edges takes
      this path; the cap bounds driver memory the way the Σpop² probe
      bounds the LSH verify join (vectorops._lsh_neardup_from_base).

    Scale notes (distributed branch): per round = one shuffle join
    (edges × labels) + one map-side-combinable min-aggregation. Rounds
    are ``localCheckpoint``-ed: persist() alone keeps the logical
    lineage, and each round's plan then embeds every prior round's
    (analysis cost compounds until rounds take seconds); checkpointing
    physically truncates it. localCheckpoint stores blocks on
    executors — on a cluster where executor loss must not fail the
    job, swap in reliable ``checkpoint()`` with a checkpoint dir; the
    algorithm is unchanged.
    """
    return _components(pairs, id_a, id_b, max_iter).select("doc_id", "cluster_id")


def _components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """:func:`connected_components`' body, shared with
    :func:`fuzzy_dedup`: ``(doc_id, cluster_id, cluster_size)`` from
    the driver solve (``np.bincount`` of its labels, so the caller sizes
    clusters with no ``groupBy``), ``(doc_id, cluster_id)`` from the
    distributed branch."""
    # NULL ids are dropped up front so both branches see the same graph:
    # the driver branch's np.unique cannot sort None among strings
    # (opaque TypeError), and the distributed branch would silently
    # treat NULL as a node that joins to nothing — neither is a useful
    # semantics for bad input, and diverging across the dispatch
    # boundary by graph size would be worse.
    # The eager checkpoint is the ONE action before the dispatch: it
    # runs the upstream pair pipeline once, and the observed metrics
    # size the graph from that same job. Both branches then read the
    # cache — the driver solve once, the distributed symmetrization
    # twice (forward + swapped; without the cache each union branch
    # replays the whole pair pipeline — measured 2× the x29 pairs cost
    # at sf10, 106 s vs 45 s for the CC stage).
    spark = pairs.sparkSession
    id_dt = pairs.schema[id_a].dataType
    probe = [F.count(F.lit(1)).alias("n")]
    if not isinstance(id_dt, _INTEGRAL_TYPES):
        probe.append(
            F.avg(
                (F.length(F.col("a").cast("string")) + F.length(F.col("b").cast("string")))
                / 2
            ).alias("w")
        )
    obs = Observation()
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .observe(obs, *probe)
        .localCheckpoint()
    )
    stats = obs.get
    n_pairs = stats["n"]
    cap = _cc_driver_cap((stats["w"] or 8.0) if "w" in stats else None)
    on_driver = 2 * n_pairs <= cap
    logging.getLogger(__name__).info(
        "connected_components: %d pairs, at most %d directed edges (cap %d) -> %s",
        n_pairs, 2 * n_pairs, cap, "driver" if on_driver else "distributed",
    )
    if on_driver:
        return _cc_driver(spark, e, id_dt, max_iter)
    raw = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    # size the round topology to the GRAPH, not the cluster: dedup
    # graphs are tiny relative to the corpus (only docs with a near-dup
    # appear), and per-round latency is dominated by task count
    n_edges = raw.count()
    parts = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 50_000 + 1))
    edges = raw.repartition(parts, "a").localCheckpoint()
    # initial labels already fold in one propagation round: each node
    # starts at min(self, neighbors) straight from the edge aggregation
    labels = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.min(F.least("a", "b")).alias("label"))
        .localCheckpoint()
    )
    # convergence for NUMERIC ids via the MONOTONE label sum: labels
    # only ever decrease, so the total is strictly smaller iff any node
    # changed — one scalar aggregate per round instead of a join
    # against the previous round. String/binary ids have no sound
    # monotone scalar (r11: the decimal cast crashed outright), so they
    # compare rounds directly: an anti-equality join on node, isEmpty
    # as the stop signal — one extra join per round over the labels
    # relation, which the round's edge join already dwarfs.
    numeric_ids = isinstance(id_dt, (*_INTEGRAL_TYPES, T.DecimalType))
    dec = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(dec).collect()[0][0] if numeric_ids else None
    for _ in range(max_iter):
        neighbor = edges.join(
            labels, edges["a"] == labels["node"]
        ).select(F.col("b").alias("node"), "label")
        # pointer jumping: also adopt the label OF the current label
        # (label chains halve every round), so convergence is
        # O(log diameter) — plain neighbor propagation alone needs
        # O(diameter) rounds and a long drift chain A~B~C~... would
        # exhaust max_iter
        jumped = (
            labels.alias("l1")
            .join(labels.alias("l2"), F.col("l1.label") == F.col("l2.node"))
            .select(F.col("l1.node").alias("node"), F.col("l2.label").alias("label"))
        )
        prev_labels = labels
        labels = (
            labels.unionByName(neighbor)
            .unionByName(jumped)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        if numeric_ids:
            cur_sum = labels.agg(dec).collect()[0][0]
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            converged = (
                labels.alias("n")
                .join(
                    prev_labels.alias("p"),
                    F.col("n.node") == F.col("p.node"),
                )
                .filter(F.col("n.label") != F.col("p.label"))
                .isEmpty()
            )
        if converged:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


# ---------------------------------------------------------------------------
# SimHash (approximate; 64-bit signature + hamming-distance candidates)
# ---------------------------------------------------------------------------


def simhash(col: Column | str, seed: int = 42) -> Column:
    """64-bit SimHash of the token multiset, as BIGINT.

    Per token: xxhash64 → each bit contributes ±1; signature bit b is 1
    iff the sum over tokens is positive. Expressed as a fold over the
    token array into a 64-int accumulator (zip_with add), then bits →
    BIGINT. Pure Column expressions; one pass over tokens.
    """
    # hash each token ONCE, then ONE fold carrying a 64-slot accumulator
    # (zip_with add). The per-bit-position formulation (64 independent
    # aggregates) re-folds the token array 64 times — measured 17s → ~2s
    # on 625 docs. Shift amounts must be Python ints (shiftright does
    # not accept a Column), hence the transform over a literal index
    # array rather than sequence().
    hashes = F.transform(tokens(col), lambda t: F.xxhash64(F.lit(seed), t))
    zeros = F.array_repeat(F.lit(0), 64)

    def token_bits(h: Column) -> Column:
        # ±1 per bit position of this token's hash
        return F.array(
            *[
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for b in range(64)
            ]
        )

    sums = F.aggregate(hashes, zeros, lambda acc, h: F.zip_with(acc, token_bits(h), lambda a, b: a + b))
    sig = F.lit(0).cast("bigint")
    for b in range(64):
        sig = sig.bitwiseXOR(  # disjoint bits: XOR == sum, no overflow
            F.when(
                F.element_at(sums, b + 1) > 0,
                F.shiftleft(F.lit(1).cast("bigint"), b),
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return sig


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig) via the RELATIONAL formulation: explode tokens, hash
    each once, 64 columnar ±1 sums in ONE hash aggregate (map-side
    combinable, whole-stage codegen), then assemble the signature.

    Equivalent to ``simhash`` (cross-checked in tests) but the scale
    path: the Column fold allocates per-token arrays and cannot
    partial-aggregate; this is a single explode+groupBy whose state is
    64 longs per document. Empty documents get sig 0 in both forms.

    ``hash_fn="md5"`` hashes tokens with the portable 60-bit md5 hash
    (functions/hashing.py): bits 60–63 of the token hash are then always
    0 → their ±1 sums are ≤ 0 → signature bits 60–63 are always 0. The
    signature is effectively 60-bit but bit-identical in any SQL engine.
    """
    ex = ensure_parallelism(df).select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("_tok")
    )
    if hash_fn == "md5":
        # concat(NULL) → NULL → md5 NULL: empty-doc rows drop out of
        # the sums naturally
        ex = ex.withColumn("_h", md5_hash60(F.concat(F.lit(f"{seed}:"), F.col("_tok"))))
    else:
        # xxhash64 SKIPS null inputs (hashes the seed alone, non-NULL),
        # so the empty-doc explode_outer row must be masked explicitly
        ex = ex.withColumn(
            "_h",
            F.when(
                F.col("_tok").isNotNull(), F.xxhash64(F.lit(seed), F.col("_tok"))
            ),
        )
    # r13 per-task-work trim (guide §1.2 step 2): the ±1 contribution
    # per (token, bit) was when(isNull, 0).otherwise(when(bit==1, 1)
    # .otherwise(-1)) — two branches per bit per token. The identity
    # sum(±1) = 2·ones_b − n (ones_b = popcount of bit b over tokens,
    # n = token count) needs only shift+mask per bit: NULL hashes
    # (explode_outer's empty-doc row) drop out of sum() and count()
    # automatically, so the null guard goes too. Bit b is set iff
    # 2·ones_b > n; empty docs have count 0 and all-NULL sums → sig 0,
    # exactly as before (equivalence pinned in tests).
    aggs = [
        F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1))).alias(f"_s{b}")
        for b in range(64)
    ]
    aggs.append(F.count(F.col("_h")).alias("_n"))
    sums = ex.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("bigint")
    for b in range(64):
        sig = sig.bitwiseXOR(
            F.when(
                F.col(f"_s{b}") * 2 > F.col("_n"),
                F.shiftleft(F.lit(1).cast("bigint"), b),
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return sums.select(F.col(id_col), sig.alias("sig"))


def adaptive_match_blocks(
    n: int, max_hamming: int, sig_bits: int, slack_bits: int = 2, hi: int = 5
) -> int:
    """Smallest k with a k-block join key wide enough for the corpus:
    ``k * sig_bits // (max_hamming + k) >= ceil(log2(n)) + slack_bits``,
    clamped to [1, hi]. Pure integer arithmetic (bit_length, no log
    floats), so the dial is bit-deterministic given the count.

    Rationale: blocking on single pigeonhole chunks (k=1) keys on only
    ``sig_bits/(h+1)`` bits — at 625k docs (sf10) the 16-bit buckets
    carried Σpop² ≈ 6.8e9 join rows (measured r11; top bucket 26k docs,
    real signature bits CLUSTER). Requiring agreement on k blocks of
    ``h + k`` (lossless: a pair differing in ≤ h blocks agrees on ≥ k,
    so some k-subset matches exactly — Manku, Jain & Das Sarma, WWW'07,
    "Detecting near-duplicates for web crawling") widens the key
    k/(h+k)-fold at a C(h+k, k)-table explode cost; k grows with
    log2(n) so expected random collisions stay ~O(n) per table while
    the table count stays combinatorially small (k ≤ 5 covers any
    realistic shard)."""
    need = max(int(n) - 1, 1).bit_length() + slack_bits
    for k in range(1, hi):
        if k * sig_bits // (max_hamming + k) >= need:
            return k
    return hi


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidates with hamming(simhash) ≤ max_hamming.

    Blocking (generalized pigeonhole, lossless): split the signature
    into ``max_hamming + k`` blocks — a pair within the hamming budget
    differs in at most ``max_hamming`` blocks, so it agrees EXACTLY on
    at least ``k`` of them, and some k-subset of blocks matches as a
    unit. Joining on every C(max_hamming+k, k) packed k-subset key is
    therefore lossless and never all-pairs. Verification =
    bit_count(xor).

    The number of matching blocks k comes from a count probe via
    :func:`adaptive_match_blocks`: k=1 is the plain one-chunk
    pigeonhole (4 tables of 16-bit keys at the default budget — right
    for small corpora, where more tables only add explode cost), and
    each +1 widens the join key by ~sig_bits/(h+k) bits, holding
    expected bucket collisions ~O(n) as the corpus grows (measured at
    sf10/625k docs: k=1 carried Σpop² ≈ 6.8e9 join rows, k=2 ≈ 1e7).
    In md5 mode only 60 signature bits are live (bits 60–63 of the
    portable hash are structurally 0, so they can never differ and
    carry no blocking power) — blocks cover exactly the live bits.

    Because the blocking is LOSSLESS at any k, the result equals "all
    pairs with hamming ≤ budget" exactly — so with ``hash_fn="md5"``
    the output is fully oracle-checkable (the oracle may verify
    all-pairs at sf scale), and k only moves the cost, never the
    answer (test-pinned k=1 ≡ k=2 ≡ k=3).
    """
    if not 0 <= max_hamming <= 31:
        raise ValueError("max_hamming must be in [0, 31]")
    big = _big_corpus(df)
    sig_bits = 60 if hash_fn == "md5" else 64
    sigs = track_persist(
        simhash_signatures(df, id_col, text_col, seed, hash_fn).select(
            F.col(id_col).alias("_id"), F.col("sig").alias("_sig")
        )
    )  # block explode is read by both join sides (and the k probe)
    match_blocks = adaptive_match_blocks(sigs.count(), max_hamming, sig_bits)
    n_blocks = max_hamming + match_blocks
    base, rem = divmod(sig_bits, n_blocks)
    block_specs = []  # (offset, width)
    off = 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        block_specs.append((off, w))
        off += w

    def _block_val(o: int, w: int) -> Column:
        # a width-64 block (max_hamming=0, k=1, xxhash64) needs no
        # mask — and its (1<<64)-1 literal would overflow int64 and
        # fail F.lit at plan build
        v = F.shiftrightunsigned("_sig", o)
        return v if w >= 64 else v.bitwiseAND(F.lit((1 << w) - 1))

    from itertools import combinations

    keys = []
    for ci, combo in enumerate(combinations(range(n_blocks), match_blocks)):
        # pack the k block values into ONE bigint key (cumulative
        # shifts; the chosen blocks are disjoint slices of the
        # signature, so their total width is ≤ sig_bits ≤ 64 and the
        # pack is always exact — XOR over non-overlapping shifted
        # ranges is bijective)
        kv = F.lit(0).cast("bigint")
        shift = 0
        for bi in combo:
            o, w = block_specs[bi]
            kv = kv.bitwiseXOR(F.shiftleft(_block_val(o, w), shift))
            shift += w
        keys.append(F.struct(F.lit(ci).alias("ci"), kv.alias("cv")))
    chunks = sigs.select(
        "_id", "_sig", F.explode(F.array(*keys)).alias("c")
    ).select("_id", "_sig", "c.ci", "c.cv")
    a = chunks.withColumnsRenamed({"_id": "id_a", "_sig": "sig_a"})
    b = chunks.withColumnsRenamed({"_id": "id_b", "_sig": "sig_b"})
    # r13: big corpora force sort-merge for the block-key self-join —
    # the exploded chunk table's size estimate undershoots the
    # autoBroadcast threshold and the planner builds a ~350 MiB
    # broadcast map that every one of the ~5e8 sf10 collision probes
    # cache-misses into (measured 13.8 s BHJ → 4.1 s SMJ at sf10/k=2
    # for identical output; under SMJ k=2 still beats k=3/k=4, so the
    # adaptive k dial needs no re-tuning). See _big_corpus.
    if big:
        b = b.hint("merge")
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        # hamming is a function of the PAIR (identical for every block
        # collision of the same pair), so filtering before distinct is
        # equivalent — and the dedup shuffle then carries only pairs
        # inside the budget instead of every block collision
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# X28 — incremental exact dedup against a persisted corpus hash index
# ---------------------------------------------------------------------------


def dedup_index(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-hash index of an existing corpus: one ``content_sha``
    column, distinct.  This is the only state incremental dedup needs —
    at 100 TB the index is ~64 bytes/doc (a few TB for a trillion docs,
    parquet-compressed far less) while the corpus text never has to be
    re-read again.  Persist it with
    :func:`rehiver_spark.sources.writer.write_bucketed` bucketed on
    ``content_sha`` and the per-batch anti-join below becomes
    shuffle-free on the index side."""
    return corpus.select(content_hash(F.col(text_col)).alias("content_sha")).distinct()


def incremental_exact_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch of documents against an already-ingested corpus
    without touching corpus text — the production dedup mode at scale
    (nobody re-dedups 100 TB to ingest a daily 100 GB increment; the
    reference's whole change-detection surface, src/index.ts:528-571,
    exists for the same reason: process only what's new).

    Adds ``content_sha`` and ``status``:

    - ``dup_corpus`` — the hash already exists in ``index``;
    - ``dup_batch``  — first seen in this batch, but an earlier
      (min-``id_col``) batch row has the same hash;
    - ``new``        — first occurrence anywhere; exactly these rows
      (and their hashes) should be appended to corpus and index.

    Plan: one shuffle of the batch on ``content_sha`` (the window
    keep-min); the INDEX is never shuffled.  A naive
    ``batch LEFT JOIN index`` would sort-merge — i.e. shuffle — the
    full corpus-scale index to answer a membership question about a
    tiny batch (measured: 0.55 s → 8.9 s going from a 4.5k- to a
    9M-hash index for a 500-row batch).  Instead the membership set is
    computed as ``index LEFT SEMI JOIN batch_hashes``: when the batch
    is the small side (the steady-state ingest case) AQE broadcasts the
    batch hashes and the index is only *streamed* map-side; the hit set
    is at most batch-sized, so the final left join broadcasts too.
    When the batch is genuinely huge (initial load) both joins degrade
    to exactly the shuffle the naive plan always pays — this
    formulation is never worse.  For repeated ingest against a
    trillion-hash index, store the index bucketed on ``content_sha``
    (:func:`rehiver_spark.sources.writer.write_bucketed`).
    """
    hashed = batch.withColumn("content_sha", content_hash(F.col(text_col)))
    w = Window.partitionBy("content_sha").orderBy(F.col(id_col).asc())
    batch_hashes = hashed.select("content_sha").distinct()
    hits = (
        index.select("content_sha")
        .join(batch_hashes, "content_sha", "left_semi")
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .join(hits, "content_sha", "left")
        .withColumn(
            "status",
            F.when(F.col("_in_corpus"), F.lit("dup_corpus"))
            .when(F.col("_rn") > 1, F.lit("dup_batch"))
            .otherwise(F.lit("new")),
        )
        .drop("_rn", "_in_corpus")
    )


def index_update(index: DataFrame, accepted_batch: DataFrame) -> DataFrame:
    """The index after ingesting the ``status = 'new'`` rows of an
    :func:`incremental_exact_dedup` result (idempotent union-distinct;
    write with mode=append on a bucketed table in production)."""
    return index.select("content_sha").unionByName(
        accepted_batch.filter(F.col("status") == "new").select("content_sha")
    ).distinct()


# ---------------------------------------------------------------------------
# X29 — end-to-end fuzzy dedup (MinHash-LSH ∘ verify ∘ components ∘ keep)
# ---------------------------------------------------------------------------


def fuzzy_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    keep: str = "min_id",
) -> DataFrame:
    """One-call fuzzy-dedup pipeline over a corpus — the composition a
    training-data run actually executes (NeMo-Curator-style):
    MinHash sketches → LSH banding candidates → exact Jaccard
    verification → connected components over the verified pair graph →
    one keeper per cluster.

    Adds ``cluster_id`` (the component's minimum ``id_col``; a doc with
    no near-dup is its own cluster), ``is_keeper`` (true for exactly
    one representative per cluster) and ``cluster_size``.

    ``keep`` picks the representative: ``"min_id"`` (default — the
    cluster label itself, zero extra work) or ``"longest"`` (the
    cluster's longest text, id-ascending tiebreak — the usual quality
    proxy in production dedup, where near-dup clusters keep the most
    complete variant). The longest-policy window runs ONLY over docs
    that appear in the (small) component map — the corpus's singleton
    majority never enters that shuffle.

    Scale shape: every stage is the already-audited scale path —
    banding/bucket join for candidates (never all-pairs) verified on
    int64 shingle ids (:func:`minhash_neardup_pairs`), pair-graph
    components via pointer-jumped min-label propagation (graph is tiny
    vs corpus: only docs WITH a near-dup appear), and the final
    labeling is one join of the corpus against the (small) component
    map, broadcast when it fits. Cluster sizes are computed on the
    component map, not the corpus, so no extra corpus shuffle: on the
    driver branch of :func:`_components` (every dedup graph under its
    cap) they come with the local solve's result, so labeling is that
    one join and nothing else; on the distributed branch a ``groupBy``
    over the component map adds them.
    """
    if keep not in ("min_id", "longest"):
        raise ValueError(f"keep must be 'min_id' or 'longest', got {keep!r}")
    pairs = minhash_neardup_pairs(
        df, id_col, text_col, k, threshold, num_hashes, bands, seed
    )
    comp = _components(pairs).withColumnsRenamed({"doc_id": id_col})
    if "cluster_size" not in comp.columns:  # distributed branch
        sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
        comp = comp.join(sizes, "cluster_id")
    out = (
        df.join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
        .withColumn("cluster_size", F.coalesce(F.col("cluster_size"), F.lit(1)))
    )
    if keep == "min_id":
        return out.withColumn("is_keeper", F.col("cluster_id") == F.col(id_col))
    # longest: rank only the clustered docs (comp-map-sized, not corpus)
    w = Window.partitionBy("cluster_id").orderBy(
        F.length(text_col).desc(), F.col(id_col).asc()
    )
    winners = (
        df.join(comp, id_col)  # inner: clustered docs only, + cluster_id
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col).alias("_winner_id"))
        .withColumn("_w", F.lit(True))
    )
    return (
        out.join(winners, out[id_col] == winners["_winner_id"], "left")
        .withColumn(
            "is_keeper",
            F.when(F.col("cluster_size") == 1, F.lit(True)).otherwise(
                F.coalesce(F.col("_w"), F.lit(False))
            ),
        )
        .drop("_winner_id", "_w")
    )


def stream_incremental_dedup(
    spark,
    src_dir: str,
    schema,
    index_dir: str,
    accepted_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 100,
    fmt: str = "parquet",
    timeout_sec: int = 300,
) -> DataFrame:
    """Continuous-ingest exact dedup: a Structured Streaming file
    source discovers new document files, and every micro-batch is
    deduped against the ON-DISK hash index of everything accepted so
    far (:func:`incremental_exact_dedup`), then the batch's novel rows
    land in ``accepted_dir`` and their hashes extend the index — the
    streaming form of X28, i.e. the reference's
    streamMatchingObjects-feeds-changeDetector loop
    (src/index.ts:1376-1544, 528-571) with dedup as the processor.

    Replay safety (exactly-once): both sinks are written to a
    ``batch_id=N`` partition directory per micro-batch, and each batch
    reads the index EXCLUDING its own partition — so a crashed epoch
    that re-runs overwrites its half-written partition instead of
    seeing its own hashes (which would silently drop every row of the
    replayed batch). The checkpoint guarantees a file is assigned to
    exactly one batch; the partition overwrite makes the batch handler
    idempotent — together that is end-to-end exactly-once.

    Scale: per batch, ONE shuffle of the (small) batch on its hashes;
    the index side ships only ``content_sha``. The index grows by one
    hash per accepted doc and is read via an ordinary parquet scan —
    at a trillion accepted docs, convert it to a bucketed table and
    the join stays co-located (see :func:`dedup_index`).

    Returns the accepted relation read back from ``accepted_dir``
    after draining with Trigger.AvailableNow.
    """
    import os

    from rehiver_spark.streaming.windows import (
        foreach_batch_collecting,
        read_file_stream,
    )

    def _index_for(batch_id: int) -> DataFrame:
        if os.path.isdir(index_dir) and any(
            e.startswith("batch_id=") for e in os.listdir(index_dir)
        ):
            return (
                spark.read.parquet(index_dir)
                .filter(F.col("batch_id") != batch_id)
                .select("content_sha")
            )
        return spark.createDataFrame([], "content_sha string")

    def handle(batch_df, batch_id):
        out = incremental_exact_dedup(
            batch_df, _index_for(batch_id), text_col, id_col
        )
        accepted = out.filter(F.col("status") == "new").drop("status")
        # overwrite THIS batch's partitions only (replay-idempotent)
        accepted.write.mode("overwrite").parquet(
            f"{accepted_dir}/batch_id={batch_id}"
        )
        # index hashes come from the just-written files, not a second
        # evaluation of the dedup plan (one shuffle per batch, not two)
        spark.read.parquet(f"{accepted_dir}/batch_id={batch_id}").select(
            "content_sha"
        ).write.mode("overwrite").parquet(f"{index_dir}/batch_id={batch_id}")

    sdf = read_file_stream(
        spark, src_dir, schema, fmt=fmt, max_files_per_trigger=max_files_per_trigger
    )
    foreach_batch_collecting(
        sdf, handle, checkpoint=checkpoint, timeout_sec=timeout_sec
    )
    if not os.path.isdir(accepted_dir):  # empty source: nothing accepted
        # same shape as the non-empty path (which reads the partitioned
        # dir and therefore carries batch_id) — downstream unionByName /
        # batch audits must not break on the first empty invocation
        return (
            spark.createDataFrame([], schema)
            .withColumn("content_sha", F.lit(None).cast("string"))
            .withColumn("batch_id", F.lit(None).cast("int"))
        )
    return spark.read.parquet(accepted_dir)


def compact_dedup_index(spark, index_dir: str, n_files: int = 16) -> int:
    """Compact a :func:`stream_incremental_dedup` index: fold every
    existing ``batch_id=`` partition into one consolidated partition
    of ``n_files`` files under a FRESH negative batch id, then drop
    the superseded partitions.

    Run it between streaming runs (NOT while a query is writing): a
    long-lived ingest stream otherwise accumulates one partition
    directory per micro-batch, and the per-batch index read degrades
    into a many-small-files listing problem. Compaction preserves the
    replay contract — real batch ids are non-negative, so a
    consolidated (negative-id) partition is never excluded by a
    batch's own-partition filter.

    Crash safety holds at EVERY step because the promote target is a
    partition name that does not exist yet (each compaction uses the
    next more-negative id, -1 then -2 then …): nothing is ever
    deleted before the replacement is fully visible. A crash after
    the promote and before (or during) the old-partition sweep only
    leaves duplicate hashes, which a membership join is insensitive
    to, and the next compaction folds them away. (The earlier
    delete-then-rename ordering had a window where a crash lost the
    previously consolidated partition outright.) Returns the number
    of distinct hashes in the compacted index.

    The stage-then-promote step uses a local-filesystem rename; on an
    object store (no atomic dir rename) write the consolidated
    partition directly under its fresh name and rely on the same
    duplicate-tolerance — only the listing-cost benefit, not
    correctness, depends on the old partitions actually disappearing.
    """
    import os
    import shutil

    if not os.path.isdir(index_dir):
        return 0  # no index yet (maintenance scheduled before first run)
    olds = [e for e in os.listdir(index_dir) if e.startswith("batch_id=")]
    if not olds:
        return 0  # nothing to fold (schema inference would fail anyway)
    new_id = min(
        (int(e.split("=", 1)[1]) for e in olds), default=0
    )
    new_id = min(new_id, 0) - 1
    hashes = spark.read.parquet(index_dir).select("content_sha").distinct()
    # stage under a dotted name (hidden from parquet discovery), then
    # promote to a name that does not exist yet — readers never see a
    # half-written consolidated partition and no delete precedes it
    stage = f"{index_dir}/.compact_tmp"
    hashes.repartition(n_files, "content_sha").write.mode("overwrite").parquet(stage)
    os.rename(stage, f"{index_dir}/batch_id={new_id}")
    for e in olds:
        shutil.rmtree(os.path.join(index_dir, e))
    return spark.read.parquet(index_dir).count()


# ---------------------------------------------------------------------------
# X34 — incremental NEAR-dup ingestion against a persisted signature index
# ---------------------------------------------------------------------------


def minhash_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature index of a corpus: ``(id, sig array<bigint>)``
    — the persistent state for INCREMENTAL near-dup detection, the
    fuzzy analog of :func:`dedup_index`. ~8·num_hashes bytes per doc
    (vs the full text), written once at ingest; corpus text is never
    needed again for near-dup checks.

    ``ensure_parallelism`` keeps the shingle/hash map side wide when a
    small single-file corpus scans as ONE partition (the r10 profile
    of the x34 drift: a 2.5 s single-task signature stage inside a
    3.4 s job). Signatures come from the map-only JVM Column form
    (r12) — zero shuffle; the r11 relational explode + min-agg shape
    paid a hash-aggregate Exchange whose stage floor a small corpus
    could not amortize (the x34 sf0.1 envelope breach) — see
    :func:`minhash_signatures`."""
    sh = ensure_parallelism(corpus).select(
        F.col(id_col), shingles(text_col, k).alias("_sh")
    )
    return minhash_signatures(sh, id_col, "_sh", num_hashes, seed)


def incremental_minhash_neardup(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    est_threshold: float = 0.7,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an already-ingested
    corpus, using only the corpus's persisted signature index — no
    corpus text, the production ingest-time fuzzy filter (exact-dup
    filtering is :func:`incremental_exact_dedup`; this catches the
    re-crawls and templated variants exact hashing misses).

    Candidates come from an LSH band-bucket join; similarity is the
    SIGNATURE-ESTIMATED Jaccard (matching components / num_hashes) —
    the standard estimator, since exact verification would require
    corpus shingles. Precision/recall are tuned by (num_hashes, bands,
    est_threshold); the sketch is the portable md5 one, so the whole
    pipeline is reproducible in SQL.

    Scale shape mirrors the re-planned X28: the batch's band keys and
    signatures are small → candidates = index-bands ⋉ broadcast(batch
    bands), so the index is only STREAMED map-side (its signature rides
    along to the estimator — wide rows, but never shuffled); nothing
    index-sized crosses the wire.  That shape is FORCED for an
    ingest-sized batch; a batch whose size estimate passes the
    :func:`_big_corpus` gate (a one-off batch comparable to the
    corpus, such as an initial load) gets no hint, so the planner
    falls back to a shuffle join instead of broadcasting something
    executor-memory-sized.

    Output: (batch ``id_col``, ``corpus_id``, ``est_jaccard``).
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")

    def banded(sigs: DataFrame, id_alias: str, with_sig: bool) -> DataFrame:
        cols = [F.col(id_col).alias(id_alias)]
        if with_sig:
            cols.append(F.col("sig").alias(f"_sig_{id_alias}"))
        cols.append(F.explode(_band_keys("sig", num_hashes, bands)).alias("b"))
        out_cols = [id_alias] + ([f"_sig_{id_alias}"] if with_sig else [])
        return sigs.select(*cols).select(*out_cols, "b.band", "b.bh")

    bsig = track_persist(
        minhash_index(batch, id_col, text_col, k, num_hashes, seed)
    )  # read by the band-key broadcast AND the post-distinct re-attach
    # r13: broadcast the batch's band keys WITHOUT its signature — the
    # 32-long sig array dominated the broadcast (sf10 fixture: 733k
    # band rows built a 280 MiB map; the narrow keys are ~17 MiB) and
    # rode through the band join AND the candidate distinct for every
    # collision. The batch sig is re-attached to the (candidate-sized)
    # distinct output instead; signatures are deterministic per id, so
    # the pair set and estimates are bit-identical.
    bb = banded(bsig, "batch_id", with_sig=False)
    ib = banded(index.select(F.col(id_col), "sig"), "corpus_id", with_sig=True)
    small = not _big_corpus(batch)
    cand = (
        ib.join(F.broadcast(bb) if small else bb, ["band", "bh"])
        .select("batch_id", "corpus_id", "_sig_corpus_id")
        .distinct()
    )
    bsig_b = bsig.select(F.col(id_col).alias("batch_id"), F.col("sig").alias("_sig_batch_id"))
    cand = cand.join(F.broadcast(bsig_b) if small else bsig_b, "batch_id")
    est = sig_est_jaccard("_sig_batch_id", "_sig_corpus_id", num_hashes)
    out = cand.withColumn("est_jaccard", est).filter(
        F.col("est_jaccard") >= F.lit(est_threshold)
    )
    return out.select(
        F.col("batch_id").alias(id_col), "corpus_id", "est_jaccard"
    )


# ---------------------------------------------------------------------------
# X43 — Bloom-filter membership index (compact incremental-dedup state)
# ---------------------------------------------------------------------------


def bloom_index(
    corpus: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Bloom-filter index of a corpus: the DISTINCT set-bit positions
    as a one-column relation (``pos``) — the compact alternative to
    :func:`dedup_index` when the exact 64-byte/doc hash index is too
    large to ship (the bit relation is ≤ m rows ≈ m/8 bytes packed;
    at the classic m = 10n, k = 5 sizing the false-positive rate is
    ~0.9%, and a Bloom filter NEVER false-negatives, so every true
    duplicate is caught).

    Bit positions are the portable md5-60 hash salted per hash-function
    index — the whole filter is reproducible in any SQL engine (same
    rule as the MinHash sketches). Merge two indexes with
    ``a.unionByName(b).distinct()`` (bitwise OR). 100 TB posture: ONE
    explode + ONE distinct whose shuffle is capped at m rows regardless
    of corpus size; persist with ``write_bucketed`` on ``pos`` to make
    the membership join shuffle-free on the index side.
    """
    if m_bits <= 0 or k <= 0:
        raise ValueError(f"m_bits/k must be positive, got {m_bits}/{k}")
    sha = content_hash(F.col(text_col))
    return (
        corpus.select(F.explode(_bloom_positions(sha, m_bits, k)).alias("pos"))
        .distinct()
    )


def _bloom_positions(sha: Column, m_bits: int, k: int) -> Column:
    """The k bit positions of a content hash — ONE definition shared by
    the index builder and the checker: a drift between the two salt
    schemes would probe a different filter than was built, a silent
    total false-negative mode."""
    return F.array(
        *[
            F.pmod(md5_hash60(F.concat(F.lit(f"bf{i}:"), sha)), F.lit(m_bits))
            for i in range(k)
        ]
    )


def bloom_check(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Membership test of a batch against a :func:`bloom_index` built
    with the SAME (m_bits, k): adds ``status`` =
    ``'maybe_dup'`` (all k bits set — a true duplicate OR a ~(fill)^k
    false positive; route to the exact X28 check or drop if the FP rate
    is acceptable) / ``'new'`` (≥1 bit unset — GUARANTEED unseen).

    Plan: status is a function of CONTENT, so probing is keyed on the
    content hash with duplicates collapsed first — a batch carrying
    the same document twice (or the same doc_id twice) probes once and
    both rows get the same verdict (per-id counting double-counted the
    probe rows of duplicated ids and mislabeled true duplicates
    'new', breaking the no-false-negative guarantee). The distinct
    content hashes explode to k probe rows each; the index joins as a
    broadcast/semi side (≤ m rows); one groupBy on the hash counts
    hits — hits = k ⇔ all bits present. The corpus itself is never
    touched (same contract as X28).
    """
    # collision-proof temp names: a user batch may legitimately carry
    # a `_sha` column of its own
    SHA, HITS = "__bf_sha", "__bf_hits"
    sha = content_hash(F.col(text_col))
    keyed = batch.withColumn(SHA, sha)
    probes = (
        keyed.select(SHA)
        .distinct()
        .select(SHA, F.explode(_bloom_positions(F.col(SHA), m_bits, k)).alias("pos"))
    )
    hits = (
        probes.join(F.broadcast(index), "pos", "left_semi")
        .groupBy(SHA)
        .agg(F.count("*").alias(HITS))
    )
    return (
        keyed.join(hits, SHA, "left")
        .withColumn(
            "status",
            F.when(F.coalesce(F.col(HITS), F.lit(0)) == k, F.lit("maybe_dup"))
            .otherwise(F.lit("new")),
        )
        .drop(HITS, SHA)
    )
