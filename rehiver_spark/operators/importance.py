"""DSIR-style importance weighting for data selection (X49).

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
score every raw-corpus document by how much it looks like a TARGET
distribution, using hashed n-gram bag-of-words models —
``log p_target(doc) - log p_raw(doc)`` under unigram+bigram features
hashed into B buckets — then resample proportionally to the
importance weight. The resampling step composes with the X48
Efraimidis–Spirakis sampler; this module produces the scores.

Design for scale:

- Feature extraction is map-side (tokens + adjacent bigrams, one
  md5-60 hash each, modulo B). The ONLY corpus-sized shuffle is the
  final per-doc score aggregation; the two bucket-count relations are
  capped at B rows each (partial-combined groupBy) and join back
  BROADCAST, so the gram stream is never shuffled for the lookup.
- The per-doc sum is INTEGER: each bucket's log-probability is
  rounded once to fixed-point (``round(ln p · scale)`` as BIGINT), so
  the aggregation is bit-stable at any parallelism and the SQL oracle
  reproduces every score exactly (the x38 integer-sum discipline).
  Probabilities use add-one smoothing over the B buckets, so unseen
  buckets are well-defined on both sides.

Documents with zero grams produce no feature rows and are absent from
the score relation (visible, not an error): a model comparison has
nothing to say about an empty document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rehiver_spark.functions.hashing import md5_hash60, md5_hash60_sql
from rehiver_spark.session import track_persist


def _grams(text_col: Column | str) -> Column:
    """Unigrams + adjacent bigrams of the normalized token stream."""
    from rehiver_spark.operators.textops import tokens

    t = tokens(text_col)
    bi = F.filter(
        F.zip_with(
            t,
            F.concat(
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                F.array(F.lit(None).cast("string")),
            ),
            lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
        ),
        lambda x: x.isNotNull(),
    )
    return F.concat(t, bi)


def grams_sql(toks_sql: str) -> str:
    """DuckDB twin of :func:`_grams` over a token-array expression."""
    bi = (
        f"list_filter(list_transform(range(1, len({toks_sql})), "
        f"i -> {toks_sql}[i] || ' ' || {toks_sql}[i+1]), x -> x IS NOT NULL)"
    )
    return f"list_concat({toks_sql}, {bi})"


def feature_buckets(
    docs: DataFrame,
    buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bucket) — one row per gram occurrence, map-side only."""
    return docs.select(
        F.col(id_col),
        F.explode(_grams(text_col)).alias("_g"),
    ).select(
        id_col, F.pmod(md5_hash60(F.col("_g")), F.lit(buckets)).alias("bucket")
    )


def bucket_sql(expr: str, buckets: int) -> str:
    """DuckDB twin of the bucket hash (hash is non-negative → plain %)."""
    return f"({md5_hash60_sql(expr)} % {buckets})"


def _log_table(
    feats: DataFrame, buckets: int, scale: int, name: str
) -> DataFrame:
    """(bucket, L_<name>) fixed-point add-one-smoothed log-probs —
    ≤ B+1 rows (the sentinel bucket -1 carries the unseen-bucket
    default so the per-gram lookup is a plain broadcast join +
    coalesce, with no scalar collected to the driver)."""
    cnts = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnts.agg(F.sum("cnt").alias("tot"))
    l_col = F.round(
        F.log((F.col("cnt") + 1).cast("double") / (F.col("tot") + buckets))
        * scale
    ).cast("bigint")
    table = cnts.crossJoin(F.broadcast(tot)).select(
        "bucket", l_col.alias(f"L_{name}")
    )
    default = tot.select(
        F.lit(-1).alias("bucket"),
        F.round(F.log(F.lit(1.0) / (F.col("tot") + buckets)) * scale)
        .cast("bigint")
        .alias(f"L_{name}"),
    )
    return table.unionByName(default)


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    buckets: int = 4096,
    scale: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document importance scores: (id, score) with
    ``score = Σ_grams [ln p_target(bucket) - ln p_raw(bucket)]`` in
    fixed-point (BIGINT · 1/scale), exposed as a rounded DOUBLE.

    Positive score → the document looks more like the target than
    like the raw corpus. Feed ``exp(clamp(score))`` (or a rank cut)
    into :func:`rehiver_spark.operators.textops.weighted_sample` for
    the resampling step of DSIR.

    ``raw``'s gram explode feeds BOTH the raw bucket model and the
    scoring pass. Unlike the r16/x16 cases (wide rows, cheap rescans),
    here the recompute side pays normalize+tokenize+bigram+md5 per
    gram while the cached relation is two BIGINTs per gram — measured
    at sf10 (500k docs, min of 3): recompute 19.3 s vs persisted
    8.9 s, so the (id, bucket) relation is always PERSISTED (BASELINE.md
    round-6 row), through ``session.track_persist``.
    """
    raw_feats = track_persist(feature_buckets(raw, buckets, text_col, id_col))
    tgt_feats = feature_buckets(target, buckets, text_col, id_col)
    lt = _log_table(tgt_feats, buckets, scale, "t")
    lr = _log_table(raw_feats, buckets, scale, "r")
    lt_d = lt.filter(F.col("bucket") == -1).select(
        F.col("L_t").alias("L_t_def")
    )
    lr_d = lr.filter(F.col("bucket") == -1).select(
        F.col("L_r").alias("L_r_def")
    )
    scored = (
        raw_feats.join(F.broadcast(lt.filter(F.col("bucket") >= 0)), "bucket", "left")
        .join(F.broadcast(lr.filter(F.col("bucket") >= 0)), "bucket", "left")
        .crossJoin(F.broadcast(lt_d))
        .crossJoin(F.broadcast(lr_d))
        .select(
            id_col,
            (
                F.coalesce(F.col("L_t"), F.col("L_t_def"))
                - F.coalesce(F.col("L_r"), F.col("L_r_def"))
            ).alias("dl"),
        )
        .groupBy(id_col)
        .agg(F.sum("dl").alias("score_fp"))
    )
    return scored.select(
        id_col,
        F.round(F.col("score_fp").cast("double") / scale, 6).alias("score"),
    )
