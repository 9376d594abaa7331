"""Vector similarity operators over embedding columns (SURVEY §2 X3).

Charter extension set: similarity search over ``array<float>`` embedding
columns for near-dup detection and retrieval at training-data scale.

Numeric determinism: arrays are cast to double and reduced with a
sequential left fold (``aggregate``/``zip_with``) so the summation order
is the array order — reproducible across runs and comparable to the
DuckDB oracle (which also folds sequentially) after round(·, 6).

Scale design:
- top-k: the query side is small by construction → **broadcast** it and
  stream the corpus; per-corpus-partition partial top-k via window only
  after a broadcast join, no corpus shuffle.
- near-dup: never all-pairs across the corpus. Within-group pairs for a
  declared blocking column, or sign-LSH bucketing (fixed-seed random
  hyperplanes embedded as literals) with exact verification.
- IVF: coarse-quantize to the nearest of K centroids (broadcast), search
  only the probe cell(s).
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rehiver_spark.functions.hashing import rademacher_planes
from rehiver_spark.session import ensure_parallelism, track_persist


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double(vec: Column | str) -> Column:
    return _c(vec).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(vec: Column | str) -> Column:
    v = as_double(vec)
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either side has zero norm."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def l2_normalize(vec: Column | str) -> Column:
    """Unit-normalize so downstream cosine is a plain dot product —
    normalize ONCE per row, not once per pair (the 100 TB version of
    'hoist the invariant out of the join')."""
    v = as_double(vec)
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(n > 0, F.transform(v, lambda x: x / n))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query (the correctness
    baseline every ANN variant is measured against).

    Plan: pre-normalize both sides, **broadcast the query side** (small
    by construction), score = dot, rank per query with a deterministic
    (score DESC, corpus_id ASC) tiebreak. The corpus is never shuffled
    until the (tiny) ranked output.
    """
    q = queries.select(
        F.col(query_id).alias("_qid"), l2_normalize(query_vec).alias("_qv")
    )
    c = ensure_parallelism(corpus).select(
        F.col(corpus_id).alias("_cid"), l2_normalize(corpus_vec).alias("_cv")
    )
    scored = c.join(F.broadcast(q)).select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        F.aggregate(
            F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ threshold.

    With ``block_col`` (e.g. a label, shard, or LSH bucket) pairs are
    formed only within blocks — the declared semantics for grouped
    dedup and the scale guard against all-pairs. Without it this IS
    an all-pairs crossJoin — O(N²) comparisons, catastrophic on a
    large corpus — so it must be opted into explicitly with
    ``allow_all_pairs=True`` (exact baseline for bounded inputs;
    otherwise use ``lsh_cosine_neardup`` / ``semdedup`` blocking).
    """
    if block_col is None and not allow_all_pairs:
        raise ValueError(
            "cosine_neardup_pairs without block_col is an O(N²) crossJoin; "
            "pass block_col (label/shard/LSH bucket) or opt in explicitly "
            "with allow_all_pairs=True on a bounded input"
        )
    base = df.select(
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
        F.col(id_col).alias("_id"),
        l2_normalize(vec_col).alias("_v"),
    )
    a = base.withColumnsRenamed({"_id": "id_a", "_v": "_va"})
    b = base.withColumnsRenamed({"_id": "id_b", "_v": "_vb"})
    joined = a.join(b, ["_blk"] if block_col else None) if block_col else a.crossJoin(b)
    out = (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with("_va", "_vb", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )
    cols = ([F.col("_blk").alias(block_col)] if block_col else []) + [
        F.col("id_a"),
        F.col("id_b"),
        F.col("cosine"),
    ]
    return out.select(*cols)


# ---------------------------------------------------------------------------
# Approximate scale paths (X6-class; candidates always exact-verified)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Fixed-seed random hyperplanes, generated driver-side and embedded
    as literals (no runtime randomness — resumable, oracle-friendly).
    PREFIX-STABLE: row-major generation means the first k planes of an
    n-plane table equal the k-plane table for the same seed — the
    property the adaptive plane count relies on."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


# expected bucket population the adaptive plane count holds ~constant:
# with p planes there are 2^p buckets per table, so p is the smallest
# integer with 2^p * TARGET_POP >= N. Per-bucket verify work is then
# O(pop^2 * dim) ~ constant per bucket and O(N * pop * dim) ~ LINEAR in
# corpus size — the fixed-p posture grew it quadratically (the r9
# verdict's x9 `weak`: 4096 buckets regardless of N means pop ~ N and
# one applyInPandas task owning a pop^2 cosine block).
_LSH_TARGET_BUCKET_POP = 64
# buckets whose population exceeds this (skew: sign-LSH buckets are
# NOT uniform on real embeddings) are split into block-pair subtasks
# before the verify kernel, bounding any single subtask's compute at
# ~cap^2 * dim regardless of how hot the bucket is
_LSH_BUCKET_SPLIT_CAP = 2048
# small buckets coalesce into at most this many kernel groups per
# table (hash of the bucket id): constant-population buckets mean
# ~N/TARGET_POP groups, and per-group applyInPandas overhead (~0.6 ms
# measured r9 on near-singleton groups) would dominate — the kernel
# loops buckets INSIDE each coalesced group instead
_LSH_VERIFY_COALESCE_GROUPS = 256


def adaptive_plane_count(
    n: int,
    target_pop: int = _LSH_TARGET_BUCKET_POP,
    lo: int = 4,
    hi: int = 30,
) -> int:
    """Smallest plane count p with ``2^p * target_pop >= n``, clamped
    to [lo, hi] — pure INTEGER arithmetic (no log2 floats), so an SQL
    oracle reproduces it exactly from ``count(*)``:

        greatest(lo, coalesce((SELECT min(i) FROM range(0, hi+1) t(i)
          WHERE (1::BIGINT << i) * target >= n), hi))

    Doubling the corpus adds one plane (E[pop] stays in
    (target_pop/2, target_pop]), which is the whole scale story: the
    bucket histogram — and with it both the verify work per bucket and
    the expr-join byte estimate — is invariant under corpus growth.
    """
    n = max(int(n), 0)
    for p in range(hi + 1):
        if (1 << p) * target_pop >= n:
            return max(lo, p)
    return hi


def _quantize_grid(v: Column, scale: int) -> Column:
    """``round(x·scale)`` per coordinate as BIGINT: the integer grid of
    the portable sign-LSH and of ``kmeans_quantized``. Spark's round is
    HALF_UP, as the SQL oracles' is, so the grid reproduces exactly."""
    return F.transform(v, lambda x: F.round(x * scale, 0).cast("bigint"))


def _plane_buckets_udf(planes, input_dtype: str):
    """Vectorized sign-LSH bucketing: ONE Arrow-batched matmul against
    all tables' planes at once, returning ``array<bigint>`` of one
    packed bucket per table.

    Replaces n_tables × n_planes interpreted ``aggregate(zip_with(...))``
    expression trees (higher-order functions never enter codegen, and
    48 of them over a 128-dim array make the analyzed plan big enough
    that optimizer passes alone cost seconds). Integer inputs make the
    matmul exact (int64), so portable-bucket parity with a SQL oracle
    is preserved bit-for-bit — and since r12 the int64 case still runs
    through BLAS dgemm whenever exactness is provable: numpy has no
    BLAS kernel for int64 (it falls back to a scalar loop, the r12 x9p
    sf10 profile), but with ±1 planes every partial sum is an integer
    bounded by dim·max|q|, and float64 represents (and adds) integers
    exactly below 2^53 — so when the batch's bound clears 2^52 the
    float64 matmul yields bit-identical signs at dgemm speed; the rare
    unbounded batch keeps the exact int64 loop.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64 if input_dtype == "float64" else np.int64)
    n_tables, n_planes, dim = P.shape
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    flat = np.ascontiguousarray(P.reshape(n_tables * n_planes, dim).T)
    flat_f64 = np.ascontiguousarray(flat.astype(np.float64))

    def _buckets(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        q = np.vstack(s.to_numpy()).astype(flat.dtype)
        if flat.dtype == np.int64:
            # raw extremes, not abs(): np.abs(INT64_MIN) wraps negative
            # and would sneak past both guards (ADVICE r12)
            bound = max(int(q.max(initial=0)), -int(q.min(initial=0)))
            if bound * dim < (1 << 52):
                dots = q.astype(np.float64) @ flat_f64  # exact: see docstring
            elif bound * dim >= (1 << 63):
                # the int64 loop would ALSO overflow (partial sums are
                # bounded by dim·max|q| with ±1 planes) — fail loud
                raise OverflowError(
                    f"sign-LSH dot products can overflow int64: max|q|={bound}, "
                    f"dim={dim}; rescale or cast the embedding column to double"
                )
            else:
                dots = q @ flat
        else:
            dots = q @ flat
        bits = (dots > 0).reshape(len(q), n_tables, n_planes)
        bkts = (bits * weights).sum(axis=2, dtype=np.int64)
        return pd.Series(list(bkts))

    # inline hints are strings under `from __future__ import annotations`;
    # pandas_udf's signature inspection needs real objects
    _buckets.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_buckets, "array<bigint>")


def _lsh_verify_arrow(
    bucketed: DataFrame,
    threshold: float,
    id_type,
    hist: DataFrame,
) -> DataFrame:
    """Within-bucket exact-cosine verification as ONE ``applyInPandas``
    pass — the round-9 scale fix for the LSH near-dup family (same
    shape as semdedup's prior-max kernel), re-grouped in round 10 for
    the adaptive-plane posture:

    - SMALL buckets coalesce into ≤ ``_LSH_VERIFY_COALESCE_GROUPS``
      hash groups per table and the kernel loops buckets inside each
      group — constant-population bucketing means ~N/64 buckets, and
      per-group applyInPandas overhead (~0.6 ms measured r9) would
      otherwise dominate;
    - a bucket whose population exceeds ``_LSH_BUCKET_SPLIT_CAP`` is
      SPLIT into block-pair subtasks: rows get a deterministic block id
      (xxhash64(_id) mod ceil(pop/cap)) and are replicated once per
      block, keyed (bi, bj) = (min, max) of (own block, partner
      block); subtask (i, i) verifies within-block pairs, (i, j)
      cross-block pairs only — every pair exactly once, each
      subtask's compute bounded at ~cap² · dim regardless of how hot
      the bucket is (the r9 verdict's x9 `weak`: one task owning a
      pop² cosine block grows quadratically with corpus size).

    ``bucketed`` = (t, bkt, _id, _v); ``hist`` = (t, bkt, _pop), the
    dispatch's persisted Σpop² histogram. The relational verify
    materialized pop² candidate rows × two dim-sized vectors through a
    join; this kernel ships each bucket's vectors ONCE (Σpop × dim
    doubles per table, × ceil(pop/cap) for the few split buckets —
    replication is dim× cheaper than the compute it parallelizes),
    computes each pop² cosine block in L2-resident 256² tiles — a BLAS
    dgemm screen per tile pair, then the exact left-to-right fold
    recomputed for screen survivors only (r14; the screen's margin
    makes false negatives impossible, see the inline proof) — and
    emits only the surviving pairs, so memory is bounded by the tile,
    not the bucket. A pair colliding in several tables is
    verified in each (≤ n_tables× redundant compute, all map-side) and
    collapsed by the caller's ``distinct()``; identical folds give
    identical doubles, so the duplicates are exact.

    Bit-parity contract with the expr fold (the established kernel
    playbook):
    - per-dimension SEQUENTIAL accumulation over id-sorted rows == the
      ``aggregate(zip_with(...))`` left-to-right fold;
    - the pair condition is ``id_a < id_b`` (strict id inequality via
      the sorted-bucket group rank), not positional order, so
      duplicate ``_id`` values never yield an (id, id) pair — same as
      the expr twin's filter. (With duplicate ids carrying DIFFERENT
      vectors both paths fan out distinct-id pairs per occurrence;
      unique ids are the precondition for full bit-parity.)
    - pairs are formed per LENGTH GROUP: ``zip_with`` pads mismatched
      dims with NULL → NULL cosine → fails ``>= threshold`` → dropped,
      so cross-dim pairs simply never form; vectors with a NULL
      element score NULL against everything → excluded;
    - a NaN cosine (an inf element riding through l2_normalize)
      SURVIVES the filter: Spark's comparison semantics treat NaN as
      greater than any numeric, so ``NaN >= t`` is true — the kernel
      keeps ``isnan`` rows and emits the NaN through a
      ``FloatingArray`` (an unmasked NaN is the one way a true NaN
      crosses pandas→Arrow without becoming SQL NULL).
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("id_a", id_type, True),
            StructField("id_b", id_type, True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    # --- grouping prep: coalesce cold buckets, split hot ones ---
    hot = hist.filter(F.col("_pop") > _LSH_BUCKET_SPLIT_CAP)
    tagged = bucketed.join(F.broadcast(hot), ["t", "bkt"], "left")
    g = F.pmod(F.xxhash64("bkt"), F.lit(_LSH_VERIFY_COALESCE_GROUPS)).cast("int")
    cold = tagged.filter(F.col("_pop").isNull()).select(
        "t",
        g.alias("_g"),
        F.lit(-1).alias("_bi"),
        F.lit(-1).alias("_bj"),
        "bkt",
        F.lit(-1).alias("_blk"),
        "_id",
        "_v",
    )
    nb = F.ceil(F.col("_pop") / F.lit(_LSH_BUCKET_SPLIT_CAP)).cast("int")
    hot_rows = (
        tagged.filter(F.col("_pop").isNotNull())
        .withColumn("_blk", F.pmod(F.xxhash64("_id"), nb).cast("int"))
        .withColumn("_j", F.explode(F.sequence(F.lit(0), nb - F.lit(1))))
        .select(
            "t",
            g.alias("_g"),
            F.least("_blk", "_j").alias("_bi"),
            F.greatest("_blk", "_j").alias("_bj"),
            "bkt",
            "_blk",
            "_id",
            "_v",
        )
    )
    grouped = cold.unionByName(hot_rows)

    def _pairs(pdf):
        import numpy as np

        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype=pdf["_id"].dtype),
                "id_b": pd.Series([], dtype=pdf["_id"].dtype),
                "cosine": pd.Series([], dtype=np.float64),
            }
        )
        if len(pdf) < 2:
            return empty
        # a split subtask (bi != bj) compares CROSS-block pairs only;
        # (bi == bj) — including the unsplit bi = -1 groups — compares
        # within the slice. Key columns are constant per group.
        is_cross = bool(pdf["_bi"].iloc[0] != pdf["_bj"].iloc[0])
        pdf = pdf.sort_values(["bkt", "_id"], kind="mergesort")
        bktv = pdf["bkt"].to_numpy()
        idsv = pdf["_id"].to_numpy()
        rawv = pdf["_v"].to_numpy()
        blkv = pdf["_blk"].to_numpy()
        bounds = np.flatnonzero(
            np.concatenate([[True], bktv[1:] != bktv[:-1]])
        )
        bounds = np.append(bounds, len(bktv))
        out_a: list = []
        out_b: list = []
        out_c: list = []
        # r14: the emitted cosine stays the strict left-to-right fold
        # (bit-parity with the expr twin and the r9-r13 kernels), but
        # the pop² block is SCREENED with one BLAS dgemm per tile pair
        # first, and only screen survivors pay the exact per-dim fold.
        # Soundness of the screen: fold and dgemm are two summation
        # orders of the same dim products, so |fold − dgemm| ≤
        # 2·γ_dim·Σ|aᵢbᵢ| ≤ 2·dim·ε·‖a‖‖b‖ (ε = 2⁻⁵²); the screen
        # keeps dots ≥ threshold − margin with the per-group scalar
        # margin 1e-9·(max‖row‖)² ≥ 1e-9·‖a‖‖b‖ — ≥ 7e4× the true
        # bound at dim = 64 and valid up to dim ≈ 2e6 — plus every NaN
        # (mixed ±inf products make BOTH orders NaN), so no
        # fold-passing pair can be screened out. The r13 profile:
        # the per-dim rank-1 loop was 425.7 of 448.8 kernel core-s at
        # sf10 (2.1e9 pair-dots), ~0.3 GFLOP/s/core vs dgemm's tens.
        # 256² tiles stay (0.5 MB dots output): with 32 workers sharing
        # L3, 1024² tiles (8 MB dgemm output + same-sized mask temps)
        # measured 8× slower than 256² on the same synthetic block —
        # the r9 L2-residency finding survives the dgemm rewrite.
        TILE = 256
        for s0, e0 in zip(bounds[:-1], bounds[1:]):
            if e0 - s0 < 2:
                continue
            ids = idsv[s0:e0]
            raw = rawv[s0:e0]
            blks = blkv[s0:e0]
            # float-dtype ndarray cells cannot hold None — skip the
            # per-element scan (14.9 of 448.8 kernel core-s at sf10)
            lens = np.fromiter(
                (
                    len(v)
                    if v is not None
                    and (
                        (
                            isinstance(v, np.ndarray)
                            and v.dtype.kind == "f"
                        )
                        or not any(x is None for x in v)
                    )
                    else -1
                    for v in raw
                ),
                dtype=np.int64,
                count=len(raw),
            )
            for dim in np.unique(lens):
                if dim < 0:
                    continue
                sel = np.flatnonzero(lens == dim)
                m = len(sel)
                if m < 2:
                    continue
                v = np.vstack(
                    [np.asarray(raw[i], dtype=np.float64) for i in sel]
                )
                gids = ids[sel]
                gblk = blks[sel]
                # pair condition is id_a < id_b like the expr twin, NOT
                # positional order: duplicate _id values must never
                # yield an (id, id) pair (r10 advisor). Rows are
                # id-sorted within the bucket, so equal ids are
                # contiguous — a cumsum group rank turns strict id
                # inequality into a vectorized int compare for any id
                # dtype (incl. object/string ids).
                grp = np.zeros(m, dtype=np.int64)
                if m > 1:
                    grp[1:] = np.cumsum(gids[1:] != gids[:-1])
                # screen margin: one SCALAR per length group,
                # 1e-9·max‖a‖·max‖b‖ ≥ 1e-9·‖a‖‖b‖ ≥ the fold-vs-dgemm
                # bound for every pair. fmax.reduce skips NaN norms
                # (NaN rows make NaN dots, which screen IN via isnan);
                # an all-NaN group yields a NaN margin → dots ≥ NaN is
                # False but every dot is NaN → still screened in
                norms = np.sqrt(np.einsum("ij,ij->i", v, v))
                mnorm = np.fmax.reduce(norms)
                screen_at = threshold - 1e-9 * mnorm * mnorm
                # upper-triangle tiles suffice for cross subtasks too:
                # rows are id-sorted, so grp is nondecreasing in
                # position and lower tiles can never satisfy grp_i < grp_j
                for s in range(0, m, TILE):
                    a = v[s : s + TILE]
                    for u in range(s, m, TILE):
                        b = v[u : u + TILE]
                        # one dgemm per tile pair — screening only; the
                        # emitted value is recomputed as the exact fold
                        dots = a @ b.T
                        # strict id inequality via the sorted group rank
                        mask = (
                            grp[s : s + len(a)][:, None]
                            < grp[u : u + len(b)][None, :]
                        )
                        if is_cross:
                            # cross subtask: only pairs from DIFFERENT
                            # blocks (same-block pairs belong to the
                            # (b, b) subtask)
                            mask &= (
                                gblk[s : s + len(a)][:, None]
                                != gblk[u : u + len(b)][None, :]
                            )
                        ii, jj = np.nonzero(
                            ((dots >= screen_at) | np.isnan(dots)) & mask
                        )
                        if not len(ii):
                            continue
                        # exact recompute for screen survivors: the
                        # identical per-pair op sequence as the expr
                        # fold (one multiply + one add per dimension,
                        # in dimension order) → bit-identical doubles.
                        # Chunked: a dense near-dup tile can pass ~TILE²
                        # pairs, and the (npair, dim) gathers must stay
                        # bounded (64k × 64 × 8 B ≈ 32 MB per side)
                        for c0 in range(0, len(ii), 65536):
                            ic = ii[c0 : c0 + 65536]
                            jc = jj[c0 : c0 + 65536]
                            av = a[ic]
                            bv = b[jc]
                            acc = np.zeros(len(ic), dtype=np.float64)
                            for j in range(dim):
                                acc += av[:, j] * bv[:, j]
                            keep = (acc >= threshold) | np.isnan(acc)
                            if keep.any():
                                out_a.append(gids[s + ic[keep]])
                                out_b.append(gids[u + jc[keep]])
                                out_c.append(acc[keep])
        if not out_a:
            return empty
        cos = np.concatenate(out_c)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                # unmasked NaN survives pandas→Arrow as a true NaN
                # (a plain float64 NaN column would turn into NULL)
                "cosine": pd.arrays.FloatingArray(
                    cos, np.zeros(len(cos), dtype=bool)
                ),
            }
        )

    return grouped.groupBy("t", "_g", "_bi", "_bj").applyInPandas(
        _pairs, out_schema
    )


def lsh_cosine_neardup_portable(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 4,
    seed: int = 42,
    scale: int = 10000,
) -> DataFrame:
    """``lsh_cosine_neardup`` with quantized Rademacher bucketing — the
    oracle-checkable form. Candidates = per-table bucket collisions;
    verification = exact cosine, on the path the measured Σpop² probe
    picks (see :func:`_lsh_neardup_from_base`: the oracle-shaped
    relational join or the within-bucket kernel, bit-equal and
    test-pinned). All tables' buckets are computed in ONE projection.
    ValueError unless ``dim``, ``n_tables`` ≥ 1 and an explicit
    ``n_planes`` is 1..64 (one bit per plane in an int64 bucket).

    ``n_planes=None`` (the default since round 10) picks
    :func:`adaptive_plane_count` from a count probe — expected bucket
    population stays ~constant as the corpus grows, so verify work
    scales linearly instead of quadratically. The probe counts the
    VALID rows (non-NULL, non-zero-norm embeddings — the rows actually
    bucketed); an SQL twin reproduces it from ``count(*)`` via the
    pure-integer rule in :func:`adaptive_plane_count`.
    ``rademacher_planes`` is per-(seed, plane, dim) md5, so the
    adaptive table is a PREFIX of the max table and an oracle can
    embed ``hi``-plane literals and mask on the computed count."""
    _check_lsh_sizes("lsh_cosine_neardup_portable", dim, n_planes, n_tables)
    # quantization stays a Spark expression (F.round == oracle round,
    # proven parity); only the plane dots move to the batched matmul
    quant = _quantize_grid(as_double(vec_col), scale)
    base = track_persist(
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            quant.alias("_q"),
            l2_normalize(vec_col).alias("_v"),
        )
        # a NULL or zero-norm embedding has no direction: it cannot be
        # near-dup to anything, and a None reaching the Arrow batch
        # would crash np.vstack for the whole job — drop it here. The
        # size guard enforces the `dim` contract the same way
        # jl_project/ivf do: a ragged row would crash the batched
        # bucket matmul, and the join verify's zip_with would NULL-pad
        # it, so neither verify path may see one
        .filter(F.col("_v").isNotNull() & (F.size("_v") == dim))
    )  # read by the bucketing pass plus the verify stage
    if n_planes is None:
        n_planes = adaptive_plane_count(base.count())
    planes = [rademacher_planes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    bkts = _plane_buckets_udf(planes, input_dtype="int64")
    return _lsh_neardup_from_base(base, bkts("_q"), threshold, dim)


def _check_lsh_sizes(fn: str, dim: int, n_planes: int | None, n_tables: int) -> None:
    # zero tables or planes leave nothing to unpack; from plane 64 on
    # ``1 << p`` is 0 in int64, so planes would silently stop counting
    bad_planes = n_planes is not None and not 1 <= n_planes <= 64
    if dim < 1 or n_tables < 1 or bad_planes:
        raise ValueError(
            f"{fn}: dim and n_tables must be >= 1 and n_planes in 1..64, "
            f"got dim={dim}, n_tables={n_tables}, n_planes={n_planes}"
        )


# expr verify materializes ~ Σpop² candidate rows × two dim-sized
# vectors; below this byte estimate that join is cheaper than the
# kernel's per-(table, bucket) applyInPandas group overhead (measured
# at sf0.1: ~10k near-singleton groups cost 5.9 s arrow vs 1.9 s
# expr), above it the join spills toward executor death (sf10:
# Σpop² ≈ 2.3e8/table → ~450 GB of join rows → OOM).
_LSH_EXPR_VERIFY_MAX_BYTES = 1 << 30


def _lsh_neardup_from_base(
    base: DataFrame, bkts_col: Column, threshold: float, dim: int
) -> DataFrame:
    """Shared candidate/verify tail of both LSH near-dup forms.
    ``base`` = (_id, _v, ...), ``bkts_col`` = array<bigint> of one
    packed bucket per table.

    The verify path comes from a measured Σpop² probe: one scalar
    aggregation over the bucket histogram (the ONE eager job this
    operator runs — base is persisted, so the probe costs the bucket
    UDF once plus a tiny shuffle) estimates the relational verify's
    join bytes (Σpop² × 2·dim doubles) and picks that join ("expr") up
    to ``_LSH_EXPR_VERIFY_MAX_BYTES``, the within-bucket kernel
    ("arrow") above it, logged at INFO. Both branches are bit-equal
    (test-pinned), so the dial is a cost decision, not a semantics
    change."""
    # ONE histogram aggregation feeds both the Σpop² dial and (if the
    # kernel wins) its hot-bucket detection
    hist = track_persist(
        base.select(F.posexplode(bkts_col))
        .withColumnsRenamed({"pos": "t", "col": "bkt"})
        .groupBy("t", "bkt")
        .agg(F.count(F.lit(1)).alias("_pop"))
    )
    sum_pop2 = (
        hist.agg(F.sum(F.col("_pop") * F.col("_pop")).alias("_s")).first()["_s"]
    ) or 0
    est_bytes = sum_pop2 * (2 * dim * 8 + 48)
    use_kernel = est_bytes > _LSH_EXPR_VERIFY_MAX_BYTES
    logging.getLogger(__name__).info(
        "lsh verify: sum pop^2 %d, est %d bytes (cap %d) -> %s",
        sum_pop2, est_bytes, _LSH_EXPR_VERIFY_MAX_BYTES,
        "arrow" if use_kernel else "expr",
    )
    if use_kernel:
        bucketed = base.select(
            "_id", "_v", F.posexplode(bkts_col)
        ).withColumnsRenamed({"pos": "t", "col": "bkt"})
        pairs = _lsh_verify_arrow(
            bucketed, threshold, base.schema["_id"].dataType, hist
        )
        # a pair colliding in several tables is verified in each with
        # an identical fold → identical doubles → distinct collapses
        return pairs.distinct()
    # on the join path the histogram is dead after the Σpop² read:
    # free its executor storage now, not at high-water eviction
    hist.unpersist()
    bucketed = base.select("_id", F.posexplode(bkts_col)).withColumnsRenamed(
        {"pos": "t", "col": "bkt"}
    )
    a = bucketed.select(F.col("_id").alias("id_a"), "t", "bkt")
    b = bucketed.select(F.col("_id").alias("id_b"), "t", "bkt")
    cands = (
        a.join(b, ["t", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    av = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    bv = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        cands.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with("_va", "_vb", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_cosine_neardup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN near-dup: per-table sign-LSH bucket collisions → exact
    cosine verification → distinct survivors. Approximate (recall < 1
    possible); returned pairs ⊆ exact answer. All tables' buckets come
    from ONE projection; verification dispatches on the measured
    Σpop² probe (see :func:`_lsh_neardup_from_base`): small bucket
    histograms keep the relational join, while skewed ones take the
    within-bucket Arrow kernel (:func:`_lsh_verify_arrow`) — the join
    materialized pop² candidate rows × two dim-sized vectors, which ran
    the executor out of allocation headroom at sf10 where Σpop² ≈ 2.3e8
    per table. Sizes are validated as in the portable form.

    ``n_planes=None`` (default since round 10) = adaptive: the plane
    count comes from a count probe via :func:`adaptive_plane_count`,
    holding expected bucket population ~constant so verify work grows
    LINEARLY with corpus size (a fixed plane count grows it
    quadratically — the r9 `weak` grade). ``_hyperplanes`` is
    prefix-stable, so growing the corpus only APPENDS planes."""
    _check_lsh_sizes("lsh_cosine_neardup", dim, n_planes, n_tables)
    base = track_persist(
        ensure_parallelism(df)
        .select(F.col(id_col).alias("_id"), l2_normalize(vec_col).alias("_v"))
        # NULL/zero-norm embeddings have no direction; a None in the
        # Arrow batch would crash np.vstack for the whole job. Size
        # guard = the `dim` contract (see the portable form)
        .filter(F.col("_v").isNotNull() & (F.size("_v") == dim))
    )  # read by the bucketing pass plus the verify stage
    if n_planes is None:
        n_planes = adaptive_plane_count(base.count())
    planes = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    bkts = _plane_buckets_udf(planes, input_dtype="float64")
    return _lsh_neardup_from_base(base, bkts("_v"), threshold, dim)


def kmeans_sample_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 10,
    sample_cap: int = 100_000,
) -> list[list[float]]:
    """Spherical k-means centroids fit on a bounded deterministic
    sample — the scale path for seeding :func:`ivf_topk` /
    :func:`semdedup` cells when id-seeded centroids would be
    unbalanced (SemDeDup and every IVF index train centroids this way;
    FAISS trains on a sample too).

    The sample is the ``sample_cap`` rows with the smallest
    ``xxhash64(id)`` — deterministic across runs and engines, unbiased
    w.r.t. insertion order, and ONE TakeOrdered job regardless of input
    size, so the driver never holds more than ``sample_cap`` vectors no
    matter how large the corpus is. Lloyd iterations run in numpy on
    that sample (k·cap·dim flops, trivial); the fitted centroids go
    back to executors as a broadcast table. Empty cells re-seed from
    the farthest points (standard k-means++-ish repair), keeping k
    effective cells.
    """
    import numpy as np

    rows = (
        df.select(
            F.col(id_col).alias("_id"),
            l2_normalize(vec_col).alias("_v"),
            F.xxhash64(F.col(id_col)).alias("_h"),
        )
        # NULL/zero-norm vectors normalize to NULL; a None in the
        # collected sample would make X an object array and break X @ C.T
        .filter(F.col("_v").isNotNull())
        .orderBy(F.col("_h").asc(), F.col("_id").asc())
        .limit(sample_cap)
        .collect()
    )
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    if len(X) < k:
        raise ValueError(f"sample ({len(X)}) smaller than k ({k})")
    C = X[:k].copy()
    for _ in range(iters):
        sims = X @ C.T  # (n, k) — unit vectors, so argmax dot == nearest
        assign = sims.argmax(axis=1)
        newC = np.zeros_like(C)
        # successive worst-covered points for empty-cell re-seeding:
        # each empty cell gets a DISTINCT point (re-seeding several
        # empty cells from the same argmin would leave duplicate
        # centroids that can never separate)
        coverage_order = iter(np.argsort(sims.max(axis=1)))
        for c in range(k):
            members = X[assign == c]
            if len(members) == 0:
                newC[c] = X[next(coverage_order)]
            else:
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                newC[c] = m / n if n > 0 else C[c]
        if np.allclose(newC, C, atol=1e-9):
            C = newC
            break
        C = newC
    return C.tolist()


def centroids_df(spark, centroids: list[list[float]]) -> DataFrame:
    """(cell_id, _centv) DataFrame from fitted centroid vectors —
    the broadcast side of every cell-assignment join."""
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(centroids)],
        "cell_id bigint, _centv array<double>",
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN top-k: coarse-quantize the corpus to the nearest of
    ``n_cells`` centroids (deterministic: the corpus vectors with the
    smallest ids seed the centroids), then search only each query's
    ``n_probe`` closest cells.

    Approximate (X6-class). Plan: centroids are a broadcast literal-free
    join (tiny DF); corpus assignment is one broadcast join; the search
    join hits only matching cells → corpus scan cost / (n_cells/n_probe).

    Pass ``centroids`` (a ``(cell_id, _centv)`` DataFrame, e.g. from
    :func:`kmeans_sample_centroids` + :func:`centroids_df`) to search
    trained, balanced cells; the default id-seeded centroids keep the
    whole procedure SQL-reproducible.
    """
    cents = (
        centroids
        if centroids is not None
        else corpus.orderBy(F.col(corpus_id).asc())
        .limit(n_cells)
        .select(
            F.col(corpus_id).alias("cell_id"), l2_normalize(vec_col).alias("_centv")
        )
    )

    c = _assign_to_cells(
        corpus.select(F.col(corpus_id).alias("_id"), l2_normalize(vec_col).alias("_v")),
        cents,
        n=1,
    ).select(F.col("_id").alias("_cid"), "cell_id", F.col("_v").alias("_cv"))
    q = _assign_to_cells(
        queries.select(F.col(query_id).alias("_id"), l2_normalize(vec_col).alias("_v")),
        cents,
        n=n_probe,
    ).select(F.col("_id").alias("_qid"), "cell_id", F.col("_v").alias("_qv"))
    scored = c.join(F.broadcast(q), "cell_id").select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        F.aggregate(
            F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )

def _assign_cells_arrow(normed: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-only nearest-centroid assignment for :func:`semdedup`
    (round 8): the centroid table is collected to the driver (bounded
    by the [16, 65536] k clamp × dim doubles — ≤ 32 MB at the clamp
    with dim 64, the kmeans `_arrow_assign` pattern) and embedded in
    ONE vectorized kernel, so the corpus crosses Arrow once (vector in,
    cell id out) instead of materializing N×k joined rows — each
    carrying BOTH vectors — through an interpreted fold and a
    row_number shuffle. At the k clamp the per-row cost is k·d
    multiply-adds in C; the flat-assignment wall at 100 TB is therefore
    compute, not the N×k row blowup the broadcast-join plan pays.

    Bit parity with :func:`_assign_to_cells`, the broadcast-join form
    :func:`ivf_topk` uses (equivalence test-pinned):

    - scores accumulate SEQUENTIALLY over dimensions (one ``+=`` per
      dimension over the batch×k block) — the exact left-to-right
      fold ``aggregate(zip_with(v, c, *), 0.0, +)`` computes, never
      numpy's pairwise-summed ``dot``/``matmul`` whose different
      rounding order could flip near-tie argmaxes;
    - centroids are sorted by cell_id ASC, and ``np.argmax`` takes the
      FIRST maximum → the window's (score DESC, cell_id ASC) tiebreak;
      NaN scores (an inf-element centroid) propagate and ``argmax``
      returns the first NaN column — the same hijack Spark's
      NaN-sorts-greatest ordering produces;
    - mixed dimensions follow ``_assign_to_cells`` EXACTLY (round-9
      advisor fix — the old single-``d`` kernel collapsed every
      off-``d`` row into the smallest cell, and one oversized malformed
      centroid flipped ``d`` for the whole corpus): ``zip_with`` pads the
      shorter array with NULL, so a (row, centroid) score is non-NULL
      only when BOTH are valid (non-NULL, no NULL element) AND equal
      length. Centroids are therefore grouped BY DIMENSION; each row
      argmaxes over its own length's group, and a row with no
      same-length live centroid (or an invalid row) has all-NULL
      scores → NULLS-LAST ties → the globally smallest cell id.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from rehiver_spark.session import ship_package

    ship_package(normed.sparkSession)
    crows = sorted(cents.collect(), key=lambda r: r["cell_id"])
    if not crows:
        raise ValueError("semdedup: empty centroid table")
    fallback = int(crows[0]["cell_id"])  # all-NULL scores: global min id
    by_dim: dict = {}  # dim -> [(cell_id, vec)] in cell_id ASC order
    for r in crows:
        cv = r["_centv"]
        if cv is None or any(x is None for x in cv):
            continue  # NULL / null-element centroid: NULL vs every row
        by_dim.setdefault(len(cv), []).append((r["cell_id"], list(cv)))
    cgroups = {
        dim: (
            np.asarray([cid for cid, _ in grp], dtype=np.int64),
            np.asarray([v for _, v in grp], dtype=np.float64),
        )
        for dim, grp in by_dim.items()
    }

    def _cell(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=np.int64)
        raw = vs.to_numpy()
        lens = np.fromiter(
            (
                len(v)
                if v is not None and not any(x is None for x in v)
                else -1
                for v in raw
            ),
            dtype=np.int64,
            count=len(raw),
        )
        out = np.full(len(raw), fallback, dtype=np.int64)
        for dim, (gids, cmat) in cgroups.items():
            sel = np.flatnonzero(lens == dim)
            if len(sel) == 0:
                continue
            k = len(gids)
            x = np.vstack([np.asarray(raw[i], dtype=np.float64) for i in sel])
            picked = np.empty(len(x), dtype=np.int64)
            # 2D-TILED (round 9, same finding as the prior-max
            # kernel): the d sequential += passes re-touch the score
            # tile plus a same-sized broadcast temp, so the tile must
            # stay L2-resident through all d passes — the old 8 MB
            # row-chunk was DRAM-bound once a few tasks shared L3.
            # 256×256 tiles keep per-element accumulation order
            # IDENTICAL (bit parity); the argmax combines across
            # centroid tiles with a strictly-greater update, so the
            # FIRST maximum still wins ties (== np.argmax == the
            # window's cell_id ASC tiebreak on the cell-sorted
            # table), and a NaN score hijacks at its first occurrence
            # exactly like the single-block argmax did.
            T = 256
            for s in range(0, len(x), T):
                xb = x[s : s + T]
                bestv = np.full(len(xb), -np.inf, dtype=np.float64)
                besti = np.zeros(len(xb), dtype=np.int64)
                for c0 in range(0, k, T):
                    cm = cmat[c0 : min(c0 + T, k)]
                    acc = np.zeros((len(xb), len(cm)), dtype=np.float64)
                    for j in range(dim):
                        # sequential per-dimension accumulation == the
                        # aggregate(zip_with) left-to-right sum, bit for bit
                        acc += xb[:, j : j + 1] * cm[:, j][None, :]
                    loc = np.argmax(acc, axis=1)
                    val = acc[np.arange(len(xb)), loc]
                    upd = (val > bestv) | (np.isnan(val) & ~np.isnan(bestv))
                    besti[upd] = c0 + loc[upd]
                    bestv[upd] = val[upd]
                picked[s : s + T] = besti
            out[sel] = gids[picked]
        return pd.Series(out)

    _cell.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = pandas_udf(_cell, "bigint")
    return normed.select("_id", udf(F.col("_v")).alias("cell_id"), "_v")


def _assign_to_cells(rows: DataFrame, cents: DataFrame, n: int = 1) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid table,
    per-id top-``n`` over centroid dot products (deterministic
    (score DESC, cell_id ASC) tiebreak). ``rows`` = (_id, _v),
    ``cents`` = (cell_id, _centv); returns (_id, cell_id, _v) — one row
    per id for ``n=1`` (cell assignment), ``n`` rows for probing."""
    scored = rows.join(F.broadcast(cents)).withColumn(
        "_cd",
        F.aggregate(
            F.zip_with("_v", "_centv", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("_id").orderBy(F.col("_cd").desc(), F.col("cell_id").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select("_id", "cell_id", "_v")
    )


def _split_hot_cells(
    assigned: DataFrame, max_cell_rows: int, max_rounds: int
) -> DataFrame:
    """Re-cluster cells whose population exceeds ``max_cell_rows``.

    Each round: find hot cells, promote each hot cell's
    ``ceil(pop / max_cell_rows)`` smallest-id members to sub-centroids
    (new cell_id = that member's own id — globally unique, same
    convention as the seed centroids), re-assign only the hot cells'
    rows by nearest sub-centroid, repeat. Deterministic end to end.

    Cost model (round 9 — the cap used to cost more than it saved at
    moderate skew because every probe recomputed the corpus-scale
    assignment kernel): the round-0 assignment is cached ONCE via a
    lazy ``localCheckpoint`` and the cell populations are collected in
    ONE scalar-bounded probe (≤ one row per cell). From there the
    population map is maintained incrementally on the driver — a
    round's re-assignment only changes the hot cells it split, so the
    follow-up probe runs over the (small, checkpointed) reassigned
    subset alone, and the rounds-exhausted worst-population check
    reads the map with no job at all. Net: the assignment kernel runs
    exactly once whether or not the cap binds, and the engaged path
    adds only the one pops shuffle plus per-round work proportional to
    the HOT rows. Storage: one cached copy of (id, cell, vec) —
    strictly less than the old per-round full-corpus checkpoints
    (MEMORY_AND_DISK via localCheckpoint, same class as the CC
    operator's lineage truncation).

    Rounds stop when no SPLITTABLE cell exceeds the cap or after
    ``max_rounds`` — splitting s-ways cuts the worst cell by ~s× per
    round unless the embeddings are (near-)identical. A cell whose
    split shrank its largest inheritor by LESS THAN 10% (near-identical
    members tie to one sub-centroid and peel off one at a time) is
    FROZEN: re-splitting it every remaining round would re-rank and
    re-shuffle essentially the same rows for nothing (round 8;
    previously the degenerate cell busy-looped until max_rounds).
    """
    assigned = assigned.localCheckpoint(eager=False)
    pops = {
        r["cell_id"]: r["_pop"]
        for r in assigned.groupBy("cell_id")
        .agg(F.count("*").alias("_pop"))
        .collect()  # ≤ one row per cell; scalar-bounded
    }
    frozen: dict = {}  # cell_id -> stuck population
    parent_pop: dict = {}  # sub-cell id -> its parent's population
    for _ in range(max_rounds):
        hot_ids = {}
        for cid, pop in pops.items():
            if pop <= max_cell_rows or cid in frozen:
                continue
            if cid in parent_pop and pop > 0.9 * parent_pop[cid]:
                frozen[cid] = pop  # <10% shrink: degenerate cell
                continue
            hot_ids[cid] = pop
        if not hot_ids:
            break
        hot_df = assigned.filter(F.col("cell_id").isin(list(hot_ids)))
        cold_df = assigned.filter(~F.col("cell_id").isin(list(hot_ids)))
        # n_sub per hot cell as a broadcast literal map
        n_sub = F.create_map(
            *[
                x
                for cid, pop in sorted(hot_ids.items())
                for x in (F.lit(cid), F.lit(-(-pop // max_cell_rows)))
            ]
        )
        wr = Window.partitionBy("cell_id").orderBy(F.col("_id").asc())
        ranked = hot_df.withColumn("_r", F.row_number().over(wr))
        # sub-cell label = -(seed member id + 1): member ids are unique
        # corpus-wide, and the negative range can never collide with
        # either id-seeded or externally-fitted (0..k-1) cell labels.
        # COLLECTED (split-ways × dim — tiny): the rows are needed
        # driver-side anyway for the no-progress lineage, and turning
        # them into a literal relation means the reassignment join does
        # not recompute the ranking window a second time
        sub_rows = ranked.filter(F.col("_r") <= n_sub[F.col("cell_id")]).select(
            F.col("cell_id").alias("_oldcell"),
            (-F.col("_id") - 1).cast("bigint").alias("_newcell"),
            F.col("_v").alias("_centv"),
        ).collect()
        for sr in sub_rows:
            parent_pop[sr["_newcell"]] = hot_ids[sr["_oldcell"]]
        subcents = assigned.sparkSession.createDataFrame(
            [(sr["_oldcell"], sr["_newcell"], list(sr["_centv"])) for sr in sub_rows],
            "_oldcell bigint, _newcell bigint, _centv array<double>",
        )
        rescored = hot_df.join(
            F.broadcast(subcents), F.col("cell_id") == F.col("_oldcell")
        ).withColumn(
            "_cd",
            F.aggregate(
                F.zip_with("_v", "_centv", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        wa = Window.partitionBy("_id").orderBy(
            F.col("_cd").desc(), F.col("_newcell").asc()
        )
        reassigned = (
            rescored.withColumn("_rn", F.row_number().over(wa))
            .filter(F.col("_rn") == 1)
            .select("_id", F.col("_newcell").alias("cell_id"), "_v")
        ).localCheckpoint(eager=False)  # hot rows only — small
        # one small job over the reassigned subset both materializes
        # its checkpoint and yields the sub-cell populations; the
        # driver-side map replaces the old per-round corpus-wide probe
        # (which recomputed the assignment kernel each round)
        newpops = (
            reassigned.groupBy("cell_id").agg(F.count("*").alias("_pop")).collect()
        )
        for cid in hot_ids:
            del pops[cid]
        pops.update({r["cell_id"]: r["_pop"] for r in newpops})
        assigned = cold_df.unionByName(reassigned)
    else:
        # rounds exhausted without a clean exit: the cap may still be
        # exceeded by cells that were still making progress. The
        # incrementally-maintained map already holds every final
        # population — no job; the frozen set below covers the
        # degenerate no-progress cells on EITHER exit path.
        worst = max(pops.values()) if pops else None
        if worst is not None and worst > max_cell_rows:
            # warn INDEPENDENTLY of the frozen set: when rounds run out
            # with both a frozen degenerate cell and a still-progressing
            # over-cap cell, the measured `worst` is the population that
            # actually drives the quadratic pair join — gating this on
            # `not frozen` suppressed it, and the frozen warning below
            # (max of the frozen pops) could understate it
            import warnings

            warnings.warn(
                f"_split_hot_cells: a cell still holds {worst} rows after "
                f"{max_rounds} rounds (cap {max_cell_rows}); the semdedup "
                "pair join over that cell will be quadratic in its size. "
                "Raise max_split_rounds or max_cell_rows.",
                RuntimeWarning,
                stacklevel=2,
            )
    if frozen:
        # semdedup's O(pop²/k) pair-join guard depends on the cap, so
        # failing silently would hide a quadratic blowup — name the
        # stuck population loudly (the cell is degenerate: identical
        # or near-identical vectors that all tie to one sub-centroid;
        # more rounds cannot help, which is why it was frozen)
        import warnings

        warnings.warn(
            f"_split_hot_cells: a degenerate cell still holds "
            f"{max(frozen.values())} rows (cap {max_cell_rows}) — its "
            "members tie to one sub-centroid, so further split rounds "
            "were skipped; the semdedup pair join over that cell is "
            "quadratic in its size. Raise max_cell_rows or dedup exact "
            "duplicates first.",
            RuntimeWarning,
            stacklevel=2,
        )
    return assigned


def semdedup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int | str | None = "auto",
    max_split_rounds: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings, then within each cluster
    drop every item whose cosine to a LOWER-id cluster member reaches
    ``threshold`` — keeping one representative per semantic near-dup
    group without ever comparing across clusters.

    Deterministic variant: centroids are seeded from the ``n_cells``
    smallest ids (the same convention as :func:`ivf_topk`), so the whole
    procedure — assignment, pairing, verdicts — reproduces exactly in
    SQL. At scale the centroids would come from k-means on a sample;
    only the seeding changes, not the plan.

    Plan shape (the SemDeDup scaling argument) — both corpus-scale
    stages are vectorized kernels:

    - centroid assignment is MAP-ONLY (:func:`_assign_cells_arrow`):
      the clamp-bounded centroid table is collected and embedded in
      one kernel, so the corpus crosses Arrow once instead of
      materializing N×k broadcast-join rows through an interpreted
      fold + row_number window;
    - the within-cell prior-max is ONE applyInPandas pass keyed on
      ``cell_id`` (:func:`_prior_max_arrow`): comparisons stay N²/k
      within cells, computed as a per-cell C matmul instead of pop²/2
      interpreted pair rows. Measured at sf10 (240k vectors, k=491,
      ~1.2e8 within-cell pairs): 727 s full-expr → 635 s arrow
      assignment only → see BASELINE.md round 8 for the full-arrow
      number. No all-pairs stage exists anywhere in the plan.

    At the k clamp (k = 65536, N ≥ ~4.3e9) per-row assignment is k·d
    multiply-adds — 4.2M flops/row at d=64, a vectorized-C cost that
    scales linearly with N across executors; a broadcast-join
    assignment at that point would materialize 65536 rows per input
    row. If even k·d/row is too hot, fit
    external ``centroids`` hierarchically (coarse ~√k cells → probe —
    the :func:`ivf_topk` machinery) and pass them in; the dial is the
    ``centroids`` parameter, not a semantics change.

    Skew hardening — the within-cell pair join is O(pop²) per cell, so
    a hot cell is the one thing that can go quadratic:

    - ``n_cells=None`` (default) picks ``floor(sqrt(N)) + 1`` clamped to
      [16, 65536] (one count job) — k grows with N as in the SemDeDup
      paper instead of a fixed 16.
    - ``max_cell_rows`` caps cell population by recursively splitting
      hot cells (:func:`_split_hot_cells`); ``"auto"`` = 16× the
      expected cell size (never binds when n_cells ≤ 16, so fixed-k
      oracle runs are byte-identical; at adaptive k it bounds per-cell
      pairs by (16·N/k)² ≈ 256·N when k≈√N̄). ``None`` disables.

    Returns one row per input id: (id, cell_id, max_prior_cosine, keep)
    where ``max_prior_cosine`` is the best cosine to any lower-id
    member of the same cell (−1.0 when the item is the cell's min id)
    and ``keep = max_prior_cosine < threshold``.
    """
    if centroids is not None and n_cells is None:
        # externally-fitted cells: k is the ACTUAL centroid count (a
        # tiny-table count), not the adaptive sqrt(N) — sizing the cap
        # from the wrong k would shred trained cells as "hot"
        n_cells = centroids.count()
    if max_cell_rows == "auto" and n_cells is not None and n_cells <= 16:
        # cap would be 16·ceil(N/k) ≥ N for k ≤ 16 — it can never bind,
        # so skip both the cap and the count() job it would need
        max_cell_rows = None
    if n_cells is None or max_cell_rows == "auto":
        n = emb.count()
        if n_cells is None:
            n_cells = max(16, min(65536, int(n**0.5) + 1))
        if max_cell_rows == "auto":
            max_cell_rows = max(1, 16 * (-(-n // n_cells)))
    cents = (
        centroids
        if centroids is not None
        else emb.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(F.col(id_col).alias("cell_id"), l2_normalize(vec_col).alias("_centv"))
    )
    normed = emb.select(F.col(id_col).alias("_id"), l2_normalize(vec_col).alias("_v"))
    assigned = _assign_cells_arrow(normed, cents)
    # the assignment feeds BOTH the prior-max stage and the final join,
    # so without a cache the corpus-scale kernel runs twice; one lazy
    # localCheckpoint (materialized by whichever action comes first,
    # MEMORY_AND_DISK) makes it run exactly once on every path. On the
    # capped path _split_hot_cells checkpoints its round-0 input itself
    # (its probes need the cache anyway) and both downstream consumers
    # then re-read that cache through cheap filter/union plans, so a
    # second copy here would only duplicate storage.
    if max_cell_rows is not None:
        assigned = _split_hot_cells(assigned, int(max_cell_rows), max_split_rounds)
    else:
        assigned = assigned.localCheckpoint(eager=False)
    prior = _prior_max_arrow(assigned)
    out = assigned.join(prior, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.col("cell_id").cast("bigint").alias("cell_id"),
        F.coalesce(F.col("_maxprior"), F.lit(-1.0)).alias("max_prior_cosine"),
        (F.coalesce(F.col("_maxprior"), F.lit(-1.0)) < F.lit(threshold)).alias("keep"),
    )
    return out


def _prior_max_arrow(assigned: DataFrame) -> DataFrame:
    """Within-cell prior-max as ONE applyInPandas pass per cell
    (round 8): a relational pair join materializes pop²/2 rows per
    cell — each carrying BOTH 64-dim arrays — and evaluates every
    cosine through Spark's interpreted HOF fold; at sf10 (240k rows,
    k=491, ~1.2e8 pairs) that stage alone ran for minutes while the
    numpy form computes the same cell in a few ms. Here the corpus
    shuffles ONCE on cell_id and each cell computes its pop×pop cosine
    matrix in C. ``assigned`` = (_id, cell_id, _v); returns
    (_id, _maxprior).

    Semantics (the x22/x22b DuckDB twins reproduce them):

    - cosines accumulate SEQUENTIALLY per dimension (the x25/x16
      discipline — one ``+=`` per dimension over the pop×pop block),
      bit-identical to an ``aggregate(zip_with)`` left-to-right fold;
    - the per-member reduction is a plain max over the same float
      set (order-independent), taken over strictly-lower ids; ids
      sort ascending in the kernel — for string ids pandas' code-point
      ordering equals Spark's UTF8 binary ``<`` (UTF-8 preserves
      code-point order);
    - NULL vectors (l2_normalize zero-norm) have a NULL cosine to
      every member, so the kernel excludes them from both sides and
      emits NULL _maxprior for them (→ the caller's coalesce(-1.0)),
      and they never contribute to other members' maxima;
    - mixed dimensions (round-9 advisor fix — the old kernel's ok-mask
      only checked ``is not None``, so one malformed-length embedding
      made ``np.vstack`` raise on the whole cell): a pair scores
      non-NULL only when both sides are valid (non-NULL, no NULL
      element) AND equal length, as under ``zip_with``'s NULL
      padding. The prior-max therefore
      runs independently per LENGTH GROUP (lower-id same-length
      members only); each group's min-id member, every off-group and
      invalid member, gets NULL _maxprior.

    Memory: pop² doubles per cell — ``max_cell_rows`` ("auto" = 16×
    the expected cell size) bounds it; with the cap disabled a
    degenerate all-one-cell input costs pop² memory (a pair join would
    cost pop² ROWS through the exchange).
    """
    import numpy as np
    import pandas as pd

    from rehiver_spark.session import ship_package

    ship_package(assigned.sparkSession)
    id_dt = assigned.schema["_id"].dataType.simpleString()

    def _cell(pdf):
        pdf = pdf.sort_values("_id", kind="mergesort")
        ids = pdf["_id"].to_numpy()
        raw = pdf["_v"].to_numpy()
        mp = np.full(len(raw), np.nan, dtype=np.float64)
        # no-prior is POSITIONAL (each length group's min-id member,
        # null / malformed vectors, singleton groups) — never inferred
        # from the value: a NaN cosine (inf-element input riding
        # through l2_normalize) must stay NaN, exactly as Spark's max
        # sorts NaN greatest and coalesce passes it through
        # (keep=false), not become NULL
        no_prior = np.ones(len(raw), dtype=bool)
        lens = np.fromiter(
            (
                len(v)
                if v is not None and not any(x is None for x in v)
                else -1
                for v in raw
            ),
            dtype=np.int64,
            count=len(raw),
        )
        for dim in np.unique(lens):
            if dim < 0:
                continue  # NULL / null-element vectors: NULL everywhere
            sel = np.flatnonzero(lens == dim)
            m = len(sel)
            if m < 2:
                continue  # no same-length lower-id member exists
            v = np.vstack([np.asarray(raw[i], dtype=np.float64) for i in sel])
            vt = np.ascontiguousarray(v.T)  # contiguous per-dim rows
            best = np.full(m, -np.inf, dtype=np.float64)
            # 2D-TILED accumulation (round 9): the d sequential +=
            # passes are the bit-parity contract, but each pass
            # re-touches the whole score tile plus a same-sized
            # broadcast temp — so the tile must stay CACHE-resident
            # through all d passes or the kernel is DRAM-bound. The
            # r8 single-axis blocking sized tiles to 8 MB of L3, which
            # 16 concurrent tasks × (acc + temp + re-reads) turned
            # into ~3.5 TB of DRAM traffic on a 47.9k-row cell
            # (x22's fixed-k sf10 shape) — measured 573 s. 256×256
            # tiles (~0.5 MB acc + temp, L2-per-core) run the same
            # passes at cache speed, and row-tiling also skips the
            # upper triangle the old full-height columns computed and
            # masked away. Parity: each acc entry still sums its d
            # products left to right (tile shape cannot reorder a
            # per-element sum); the per-column max combines exactly
            # over row tiles (float max is associative, np.maximum
            # propagates NaN like Spark's NaN-sorts-greatest max).
            T = 256
            for s in range(1, m, T):
                e_ = min(s + T, m)
                w = e_ - s
                bb = np.full(w, -np.inf, dtype=np.float64)
                for r0 in range(0, e_, T):  # only rows < e_ can be priors
                    r1 = min(r0 + T, e_)
                    a = v[r0:r1]
                    acc = np.zeros((r1 - r0, w), dtype=np.float64)
                    for j in range(vt.shape[0]):
                        acc += a[:, j : j + 1] * vt[j, s:e_][None, :]
                    if r1 > s:  # tile crosses the diagonal: mask i >= j
                        valid = (
                            np.arange(r0, r1)[:, None]
                            < np.arange(s, e_)[None, :]
                        )
                        acc[~valid] = -np.inf
                    bb = np.maximum(bb, acc.max(axis=0))
                best[s:e_] = bb
            mp[sel[1:]] = best[1:]  # sel[0] = the group's min-id member
            no_prior[sel[1:]] = False
        # no-prior rows come back as SQL NULL (→ the caller's
        # coalesce(-1.0)); everything else keeps its double VERBATIM,
        # NaN included. Spark's pandas→Arrow conversion turns plain
        # float64 NaN into NULL, so nullability must ride an explicit
        # FloatingArray mask — the only way to send a true NaN
        return pd.DataFrame(
            {
                "_id": ids,
                "_maxprior": pd.arrays.FloatingArray(mp, no_prior.copy()),
            }
        )

    return assigned.groupBy("cell_id").applyInPandas(
        _cell, f"_id {id_dt}, _maxprior double"
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4× storage
    cut for an embedding store at 100 TB scale: scale = max|x|/127,
    q_i = round(x_i/scale) ∈ [−127, 127]; a zero vector quantizes to
    zeros with scale 0.

    Entirely map-side (no shuffle, no UDF): two array folds per row,
    whole-stage codegen. round() is half-away-from-zero in both Spark
    (HALF_UP) and DuckDB, so the quantized codes reproduce exactly in
    the oracle.

    Output: (id, scale, q array<int>).
    """
    v = as_double(vec_col)
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(
        amax > 0, F.transform(v, lambda x: F.round(x / (amax / 127.0)).cast("int"))
    ).otherwise(F.transform(v, lambda x: F.lit(0))).alias("q")
    return emb.select(F.col(id_col), scale, q)


def semantic_contamination_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.8,
    corpus_id: str = "vec_id",
    bench_id: str = "bench_id",
    corpus_vec: str = "embedding",
    bench_vec: str = "embedding",
) -> DataFrame:
    """Embedding-level train/test decontamination: every (corpus item,
    benchmark item) pair with cosine ≥ ``threshold`` — the semantic
    complement of n-gram containment (operators/dedup.py
    containment_pairs): paraphrased or re-worded benchmark leakage has
    near-zero n-gram overlap but high embedding similarity, which is
    how modern data audits (FineWeb/DCLM-style) catch it.

    Scale shape mirrors X15: the benchmark side is small by definition
    → its normalized vectors BROADCAST; the corpus streams through one
    map-side nested-loop score + filter and is never shuffled. Cost is
    |corpus|·|bench| dot products — all inside codegen; for a very
    large benchmark suite, IVF-bucket both sides instead (ivf_topk).

    Output: (corpus_id, bench_id, cosine), one row per contaminated
    pair above threshold.
    """
    c = ensure_parallelism(corpus).select(
        F.col(corpus_id).alias("_cid"), l2_normalize(corpus_vec).alias("_cv")
    )
    b = bench.select(
        F.col(bench_id).alias("_bid"), l2_normalize(bench_vec).alias("_bv")
    )
    scored = c.join(F.broadcast(b)).select(
        F.col("_cid").alias(corpus_id),
        F.col("_bid").alias(bench_id),
        F.aggregate(
            F.zip_with("_cv", "_bv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= F.lit(threshold))


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    emb_col: str = "embedding",
    recall_n: int = 50,
    k: int = 10,
) -> DataFrame:
    """Hybrid retrieval — lexical recall then vector rerank, the
    canonical two-stage search over a corpus with both text and
    embedding columns (RAG retrieval, near-query mining).

    Stage 1 (recall): score every corpus doc by its DISTINCT-token
    overlap with each query doc (an exact integer — no float scoring
    in the wide stage) and keep the top ``recall_n`` per query by
    (overlap DESC, id ASC). Query token sets are broadcast; the corpus
    token relation joins them map-side and the only corpus-sized
    shuffle is the (query, doc) overlap count. The per-query window
    partitions by query — queries rank in parallel.

    Stage 2 (rerank): join the tiny candidate set (|queries|·recall_n
    rows, broadcast) to the embeddings table — the embeddings NEVER
    shuffle — and order by (round(cosine, 6) DESC, id ASC); the
    rounding makes the rank boundary engine-portable, the id tiebreak
    makes it total.

    ``query_ids``: a small (id) relation naming the query docs; they
    are excluded from the corpus side. Output: (query_id, doc_id,
    shared_tokens, cos_sim, rank ≤ k).
    """
    from rehiver_spark.operators.textops import tokens

    qids = query_ids.select(F.col(id_col).alias("query_id"))
    dtoks = docs.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token")
    )
    qtoks = dtoks.join(
        F.broadcast(qids), dtoks[id_col] == qids["query_id"]
    ).select("query_id", "token")
    corpus_toks = dtoks.join(
        F.broadcast(qids), dtoks[id_col] == qids["query_id"], "left_anti"
    )
    shared = (
        corpus_toks.join(F.broadcast(qtoks), "token")
        .groupBy("query_id", id_col)
        .agg(F.count("*").cast("bigint").alias("shared_tokens"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("shared_tokens").desc(), F.col(id_col).asc()
    )
    cand = (
        shared.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= recall_n)
        .drop("_rn")
    )
    qe = embeddings.join(
        F.broadcast(qids), embeddings[vec_id_col] == qids["query_id"]
    ).select("query_id", F.col(emb_col).alias("_qv"))
    ce = embeddings.select(
        F.col(vec_id_col).alias(id_col), F.col(emb_col).alias("_dv")
    )
    scored = (
        ce.join(F.broadcast(cand.join(F.broadcast(qe), "query_id")), id_col)
        .withColumn("cos_sim", F.round(cosine("_qv", "_dv"), 6))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "shared_tokens", "cos_sim", "rank")
    )


def jl_project(
    df: DataFrame,
    dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    out_col: str = "proj",
    seed: int = 42,
    scale: int = 10000,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection (X50): reduce ``dim``-d
    embeddings to ``out_dim`` dims with deterministic Rademacher ±1
    planes scaled by 1/sqrt(out_dim) — Achlioptas (2003) database-
    friendly projections, the standard preprocessing that makes
    downstream ANN / SemDeDup / clustering pay out_dim/dim of the
    distance-computation cost while preserving pairwise distances to
    (1±ε), ε ≈ sqrt(ln n / out_dim).

    MAP-ONLY and portable: coordinates are quantized to integers
    (round(x·scale)), each output coordinate is an EXACT integer dot
    with a ±1 plane (the x9p discipline), and the single float step is
    one division by the literal scale·sqrt(out_dim) — so the oracle
    reproduces every projected coordinate bit-for-bit.

    The projection runs as ONE Arrow-batched int64 matmul —
    higher-order-function expressions never enter codegen, and
    out_dim·dim interpreted multiply-adds per row cost ~10× the
    batched matmul (measured 2.37 → 0.26 s at sf0.1). NULL, wrong-dim
    and element-NULL/NaN embeddings project to NULL.
    """
    if dim < 1 or out_dim < 1 or scale < 1:
        raise ValueError(
            f"jl_project: dim, out_dim and scale must be >= 1, "
            f"got dim={dim}, out_dim={out_dim}, scale={scale}"
        )
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = rademacher_planes(dim, out_dim, seed)
    div = float(scale) * math.sqrt(out_dim)
    P = np.ascontiguousarray(np.asarray(planes, dtype=np.int64).T)

    def _proj(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        vals = s.to_numpy()
        # NULL / wrong-dim / element-null embeddings project to
        # NULL (np.vstack over None crashes the stage; a NaN
        # element — how Arrow delivers a null ELEMENT — survives
        # vstack but turns np.rint(...).astype(int64) into
        # INT64_MIN garbage)
        valid = np.array(
            [
                v is not None
                and len(v) == P.shape[0]
                and not np.isnan(np.asarray(v, dtype=np.float64)).any()
                for v in vals
            ]
        )
        out = np.empty(len(vals), dtype=object)
        out[~valid] = None
        if valid.any():
            x = np.vstack(vals[valid]).astype(np.float64)
            q = np.rint(x * scale).astype(np.int64)
            dots = q @ P
            # np.round is half-to-even vs Spark's HALF_UP: a
            # mismatch needs an exact .5 at the 6th decimal,
            # impossible when div is irrational and measure-zero
            # otherwise (pinned by the jl_project_sql comparison test)
            proj = np.round(dots / div, 6)
            # object-array boolean assignment rejects a 2-D rhs;
            # place each row individually
            for idx, row in zip(np.flatnonzero(valid), proj):
                out[idx] = row
        return pd.Series(out)

    _proj.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = pandas_udf(_proj, "array<double>")
    return df.withColumn(out_col, udf(as_double(vec_col)))


def jl_project_sql(
    vec_expr: str, dim: int, out_dim: int = 16, seed: int = 42, scale: int = 10000
) -> str:
    """DuckDB twin of :func:`jl_project`'s projected array."""
    import math as _math

    planes = rademacher_planes(dim, out_dim, seed)
    # ::DOUBLE[] FIRST: DuckDB multiplies FLOAT*INT in single
    # precision, whose product can round across an integer boundary
    # differently from the engine's float64 path (x9p learned this;
    # caught again here by a 1-quantum mismatch on one sf0.001 vector)
    q = (
        f"list_transform({vec_expr}::DOUBLE[], "
        f"x -> CAST(round(x * {scale}) AS BIGINT))"
    )
    div = repr(float(scale) * _math.sqrt(out_dim))
    coords = []
    for p in planes:
        lit = "[" + ", ".join(str(c) for c in p) + "]"
        dot = (
            f"list_sum(list_transform(list_zip({q}, {lit}), "
            f"t -> t[1] * t[2]))"
        )
        coords.append(f"round(CAST({dot} AS DOUBLE) / {div}, 6)")
    return "[" + ", ".join(coords) + "]"


def kmeans_quantized(
    df: DataFrame,
    dim: int,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 10000,
) -> DataFrame:
    """Fully DISTRIBUTED Lloyd's k-means on the integer grid (X51) —
    the clustering primitive for topic-balancing and diversity
    sampling that the sampled-centroid IVF trainer (ivf_topk) cannot
    provide: every iteration sees the WHOLE corpus, not a driver-side
    sample. The corpus never reaches the driver; the only driver
    traffic is the k·dim-integer centroid relation once per round (the
    bounded CC-scalar class).

    Deterministic and bit-portable by construction:

    - vectors are quantized once to the integer grid (round(x·scale));
    - centroid UPDATES round the per-dimension mean back onto the SAME
      grid (``round(sum/n)`` — BIGINT sums, so partial aggregation
      order cannot change the result), which keeps every distance an
      exact ``sum((q_i − c_i)²)`` BIGINT bounded by dim·(2·scale·|x|)²
      regardless of corpus size — no overflow at any n;
    - assignment ties break on the lowest cell id.

    Per iteration: assignment WITHOUT a pair join — the k-row centroid
    relation is collected (k·dim ints) and embedded in one vectorized
    |a|²−2a·C+|C|² int64 kernel, so the corpus crosses Arrow once per
    round instead of k times as duplicated pair rows (an interpreted
    HOF fold over pair rows ran >18 min at sf10) — then one
    partial-combined groupBy: the corpus shuffles ONCE per iteration
    on cell id with ``dim`` BIGINT sums as the payload. Grid
    quantization perturbs each coordinate by < 1/scale, the same
    approximation the x9p/x50 family already accepts for portability.

    Returns (cell, n_members, inertia, centroid ARRAY<BIGINT> on the
    grid) — divide by ``scale`` for real-space centroids.
    """
    if dim < 1 or k < 1 or n_iter < 1 or scale < 1:
        raise ValueError(
            f"kmeans_quantized: dim, k, n_iter and scale must be >= 1, "
            f"got dim={dim}, k={k}, n_iter={n_iter}, scale={scale}"
        )
    from rehiver_spark.functions.hashing import md5_hash60

    v = as_double(vec_col)
    # NULL / wrong-dim / element-null-or-NaN vectors are excluded up
    # front (visible via the member counts, never an error): unguarded
    # they crash the kernel's np.vstack (or garble the int64 cast via
    # NaN), and can even be chosen as seed centroids
    clean = ~F.exists(v, lambda x: x.isNull() | F.isnan(x))
    q = df.filter(v.isNotNull() & (F.size(v) == dim) & clean).select(
        F.col(id_col).alias("_id"),
        _quantize_grid(v, scale).alias("q"),
    )
    q = q.persist()
    try:
        # deterministic seeding: the k first vectors in md5-hash order.
        # ONE TakeOrdered job (``orderBy().limit(k)`` — the
        # kmeans_sample_centroids pattern), NOT an unpartitioned
        # row_number Window: that Window funneled the ENTIRE quantized
        # relation through a single task (the r5 verdict's one weak
        # plan). Cell ids are ranks assigned driver-side from the k
        # collected rows (k·dim ints — the bounded CC-scalar driver
        # class); the (hash, _id) sort key is unchanged, so seeding is
        # bit-identical to the Window form.
        seed_h = md5_hash60(F.concat(F.lit("km:"), F.col("_id").cast("string")))
        seeds = (
            q.select(seed_h.alias("_h"), F.col("_id"), F.col("q"))
            .orderBy("_h", "_id")
            .limit(k)
            .collect()
        )
        # collect() of an ordered limit preserves order, but the rank
        # assignment must never depend on that implementation detail
        seeds.sort(key=lambda r: (r["_h"], r["_id"]))
        cents = df.sparkSession.createDataFrame(
            [(i, list(r["q"])) for i, r in enumerate(seeds)],
            "cell bigint, c array<bigint>",
        )

        def _assign_col(cent_rows):
            """Nearest-centroid (d, cell) struct column: centroids (k·dim
            ints) are embedded in one vectorized kernel; the corpus
            crosses Arrow ONCE per round (its q column in, two scalars
            out). np.argmin returns the FIRST minimum → lowest-cell
            tie-break."""
            import numpy as np
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            # sort by cell: np.argmin's first-minimum rule is then the
            # lowest-cell tie-break (collect order of a checkpointed
            # aggregate is arbitrary)
            cent_rows = sorted(cent_rows, key=lambda r: r["cell"])
            cells = np.array([r["cell"] for r in cent_rows], dtype=np.int64)
            C = np.vstack([list(r["c"]) for r in cent_rows]).astype(np.int64)

            def _assign(qs):
                if len(qs) == 0:
                    return pd.DataFrame({"d": [], "cell": []})
                a = np.vstack(qs.to_numpy()).astype(np.int64)
                # d2[i,j] = |a_i|² - 2 a_i·C_j + |C_j|², all int64 exact
                d2 = (
                    (a * a).sum(axis=1, keepdims=True)
                    - 2 * (a @ C.T)
                    + (C * C).sum(axis=1)
                )
                j = d2.argmin(axis=1)
                return pd.DataFrame(
                    {"d": d2[np.arange(len(a)), j], "cell": cells[j]}
                )

            _assign.__annotations__ = {"qs": pd.Series, "return": pd.DataFrame}
            return pandas_udf(_assign, "d bigint, cell bigint")(F.col("q"))

        for _ in range(n_iter):
            assigned = (
                q.withColumn("dc", _assign_col(cents.collect()))
                .select("_id", "q", F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell"))
            )
            cents = assigned.groupBy("cell").agg(
                F.array(
                    *[
                        F.round(
                            F.sum(F.col("q")[i]).cast("double") / F.count(F.lit(1)),
                            0,
                        ).cast("bigint")
                        for i in range(dim)
                    ]
                ).alias("c")
            )
            # materialize the k-row centroid relation NOW: without
            # this, iteration i's collect replays the whole chain of
            # iterations 1..i-1 (O(n²) total chain work) — with it, each round is one linear pass (measured
            # 6.1 → 4.5 s at sf0.1 with n_iter=3; the gap grows
            # quadratically with n_iter). Executor-side
            # materialization, not a collect.
            cents = cents.localCheckpoint(eager=True)
        return (
            assigned.groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_members"),
                F.round(
                    F.sum(F.col("d").cast("decimal(38,0)")).cast("double")
                    / F.lit(float(scale) ** 2),
                    4,
                ).alias("inertia"),
            )
            .join(cents, "cell")
        )
    finally:
        q.unpersist()
