"""Physical-plan audits: the queries must not merely be correct — the
plans must be the ones a 100 TB run needs (pushdown, broadcast, no
cartesian product, partial aggregation, pruned reads)."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    import sys

    sys.path.insert(0, "/root/repo")
    from rehiver_spark.queries import QUERIES, load_all

    load_all()
    return QUERIES


def test_c3_join_broadcasts_dimension(spark, queries):
    p = plan_of(queries["c3_join"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_c6_agg_partial_aggregation_and_pushdown(spark, queries):
    df = queries["c6_agg"](spark, SF)
    p = plan_of(df)
    # map-side partial + final aggregate
    assert p.count("HashAggregate") >= 2
    # the shipdate filter must reach the parquet scan
    assert "PushedFilters: [" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]


def test_c1_projection_prunes_read_schema(spark, queries):
    p = plan_of(queries["c1_projection"](spark, SF))
    read = p.split("ReadSchema:")[1].splitlines()[0]
    assert "p_name" in read and "p_retailprice" not in read


def test_x2_jaccard_no_cartesian(spark, queries):
    p = plan_of(queries["x2_jaccard_pairs"](spark, SF))
    assert "CartesianProduct" not in p


def test_x3_topk_broadcasts_queries_not_corpus(spark, queries):
    p = plan_of(queries["x3_cosine_topk"](spark, SF))
    # query side joins via broadcast (nested-loop on no-condition join);
    # the corpus is never shuffled before scoring
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_c9_topk_is_take_ordered(spark, queries):
    p = plan_of(queries["c9_topk"](spark, SF))
    assert "TakeOrderedAndProject" in p  # no full global sort materialization


def test_r6_prune_reaches_scan_on_hive_layout(spark):
    """The same prune_filter predicate drives directory pruning on a
    real partitioned read (PartitionFilters, not a post-scan filter)."""
    from rehiver_spark.flagship import partitioned_events_dir
    from rehiver_spark.operators.partitions import PartitionField, PartitionSchema

    base = partitioned_events_dir(spark, SF)
    sch = PartitionSchema(
        [PartitionField("year", "int"), PartitionField("month", "int"), PartitionField("day", "int")]
    )
    df = spark.read.parquet(base).filter(sch.prune_filter({"year": 2024, "day": 15}))
    p = plan_of(df)
    scan = p.split("PartitionFilters:")[1].splitlines()[0]
    assert "year" in scan and "day" in scan
    assert df.count() > 0


def _regex_calls(df, node=None) -> tuple[int, int]:
    """(regexp_extract[_all], RLIKE) calls held by the optimized plan's
    nodes named ``node`` (every node when None), each node's own
    expressions only."""
    import re as _re

    counts = [0, 0]
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        p = stack.pop()
        if node is None or p.nodeName() == node:
            s = p.simpleString(1 << 20)
            counts[0] += s.count("regexp_extract")  # and regexp_extract_all
            counts[1] += len(_re.findall(r"RLIKE\(", s))
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return tuple(counts)


@pytest.mark.parametrize("schema", ["date_schema", "analytics_schema", "log_schema"])
def test_partition_valid_filter_extracts_each_field_once(spark, schema):
    """A pushed ``filter("_valid")`` must not re-inline the staged
    extractions of ``apply``: its Filter node holds no more regex
    extractions and RLIKEs than the whole projection (for date_schema
    the Filter held 63/42 against the projection's 9/6 before
    ``_valid`` was bound through a lambda)."""
    from rehiver_spark.operators import partitions

    sch = getattr(partitions, schema)()
    df = spark.createDataFrame([("year=2024/month=1/day=1",)], "key string")
    proj = _regex_calls(sch.apply(df, "key"))
    filt = _regex_calls(sch.apply(df, "key").filter("_valid"), "Filter")
    assert filt[0] <= proj[0] and filt[1] <= proj[1], (filt, proj)
    assert filt[0] >= len(sch.fields)  # the Filter did get the pushed predicate


def test_flagship_prunes_partitions(spark):
    from datetime import datetime

    from rehiver_spark.flagship import hourly_metrics

    from rehiver_spark.flagship import partitioned_events_dir

    df = hourly_metrics(spark, SF, end=datetime(2024, 1, 30, 23), hours=24)
    p = plan_of(df)
    part = p.split("PartitionFilters:")[1].splitlines()[0]
    assert "year" in part  # predicate reached the scan (string truncates)
    # and it actually prunes: FileSourceScanExec selects ~24 hour dirs
    # out of the table's full partition count (inputFiles() reports the
    # unpruned FileIndex, so interrogate the scan node through AQE)
    adaptive = df._jdf.queryExecution().executedPlan()
    scan = adaptive.executedPlan().collectLeaves().apply(0)
    # Spark 4 scan listing: file count AFTER partition pruning
    selected = scan.selectedPartitions().totalNumberOfFiles()
    total = len(spark.read.parquet(partitioned_events_dir(spark, SF)).inputFiles())
    assert selected <= 26, (selected, total)
    assert total > 400  # the table really has hundreds of hour dirs


def test_r17_pipeline_stats_single_aggregate(spark, queries):
    p = plan_of(queries["r17_stream_process"](spark, SF))
    # stats computed in one aggregation over the log, not four scans
    assert p.count("ArrowEvalPython") + p.count("MapInPandas") <= 1


def test_x5_tfidf_broadcasts_df_relation(spark, queries):
    p = plan_of(queries["x5_tf_idf"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_x9p_lsh_single_candidate_join(spark, queries):
    p = plan_of(queries["x9p_lsh_cosine"](spark, SF))
    assert "CartesianProduct" not in p
    # all LSH tables bucket in one projection → ONE (table, bucket)
    # self-join, not n_tables joins + union
    assert p.count("Generate explode") <= 2


def test_x14_winnow_zero_shuffle_array_form(spark, queries):
    p = plan_of(queries["x14_winnow_fingerprints"](spark, SF))
    assert "CartesianProduct" not in p
    # zero-shuffle array formulation (hash grams once behind a
    # projection barrier, array_min over slices): NO per-character key
    # shuffle and NO window sort — the only Exchange allowed is the
    # explicit round-robin repartition for read parallelism
    assert p.count("Window") == 0
    assert p.count("Exchange") <= 1
    assert "RoundRobinPartitioning" in p or p.count("Exchange") == 0
    # the gram hashes must be materialized ONCE in a projection, not
    # inlined into the per-window slice lambda (would re-hash per
    # window, O(n²)): the selection cascade must reference the
    # materialized _hs attribute, never an inline md5 transform
    assert "zip_with(_hs#" in p or "zip_with(zip_with(_hs#" in p
    # exactly the two CASE branches of the r14 byte/char gram split
    # (ASCII rows slice UTF-8 bytes, others chars) — ONE evaluates per
    # row; a third site would mean the cascade re-hashes per window
    assert p.count("conv(substring(md5") == 2


def test_x7p_minhash_no_cartesian(spark, queries):
    p = plan_of(queries["x7p_minhash_lsh"](spark, SF))
    assert "CartesianProduct" not in p


def test_minhash_signatures_map_only(spark):
    """The r12 default signature path (map-only JVM Column form) must
    plan with ZERO Exchange — the whole point over the r11 relational
    shape (whose hash-aggregate shuffle floor broke the x34 sf0.1
    envelope) — and no Python UDF."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.dedup import minhash_signatures, shingles

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", shingles(F.col("text"), 3).alias("_sh")
    )
    p = plan_of(minhash_signatures(df, "doc_id", "_sh", 32, 42))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_x8p_simhash_kofc_no_cartesian_and_no_python(spark, queries):
    """The r11 k-of-c blocking is a plain equi-join on packed block
    keys: never a cartesian, never a Python UDF (the whole simhash
    pipeline is codegen expressions)."""
    p = plan_of(queries["x8p_simhash"](spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_x15_contamination_broadcasts_benchmark(spark, queries):
    p = plan_of(queries["x15_contamination"](spark, SF))
    assert "CartesianProduct" not in p
    # the benchmark side must broadcast — the corpus never shuffles
    # through the gram join
    assert "BroadcastHashJoin" in p


def test_x16_repetition_is_shuffle_free(spark, queries):
    p = plan_of(queries["x16_repetition"](spark, SF))
    assert "CartesianProduct" not in p
    # round-3 re-plan: every stat is within-row (array_sort + run-length
    # fold), so the whole query is a map job — the only exchange allowed
    # is the ensure_parallelism round-robin repartition of the tiny scan
    assert "Join" not in p and p.count("Exchange") <= 1
    assert "Aggregate" not in p.replace("aggregate(", "")


def test_x18_packing_single_window_no_join(spark, queries):
    p = plan_of(queries["x18_sequence_packing"](spark, SF))
    assert "CartesianProduct" not in p and "Join" not in p
    # one running-sum window per shard is the whole plan
    assert p.count("Window") == 1


def test_x19_pipeline_no_cartesian(spark, queries):
    p = plan_of(queries["x19_pipeline"](spark, SF))
    assert "CartesianProduct" not in p


def test_x22_semdedup_broadcasts_centroids_no_cartesian(spark, queries):
    p = plan_of(queries["x22_semdedup"](spark, SF))
    # centroid assignment broadcasts the tiny centroid table; the pair
    # join is keyed on cell_id — no all-pairs stage anywhere
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_x27_line_dedup_broadcasts_hot_lines(spark, queries):
    p = plan_of(queries["x27_line_dedup"](spark, SF))
    # the hot-line set is tiny by definition → the removal filter must
    # be a broadcast join; the corpus lines never sort-merge-shuffle
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_x28_index_membership_is_semi_join(spark):
    """The corpus hash index must never be shuffled for a small batch:
    membership is index ⋉ batch-hashes (semi join, batch side the
    build/broadcast side), not a sort-merge of the index."""
    from rehiver_spark.operators.dedup import dedup_index, incremental_exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    idx = dedup_index(docs.filter("doc_id % 10 != 0")).localCheckpoint()
    batch = docs.filter("doc_id % 10 = 0")
    p = plan_of(incremental_exact_dedup(batch, idx))
    assert "LeftSemi" in p
    # at this scale both joins must resolve to broadcast — a SortMergeJoin
    # would mean the index side got shuffled
    assert "SortMergeJoin" not in p


def test_x30_zorder_plan_no_extra_shuffle(spark, tmp_path):
    """Z-order write = quantile sketch + ONE range exchange + in-task
    sort; the bucket lookup stays codegen (no python UDF in the plan)."""
    from rehiver_spark.sources.writer import zorder_value

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id", "value")
    z = zorder_value(ev, ["user_id", "value"], bits=6)
    out = ev.withColumn("_z", z).repartitionByRange(4, "_z").sortWithinPartitions("_z")
    p = plan_of(out)
    assert p.count("Exchange") == 1, p
    assert "rangepartitioning" in p.lower()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_x35_epoch_shuffle_map_only(spark, queries):
    p = plan_of(queries["x35_epoch_shuffle"](spark, SF))
    # the layout operator itself is pure projection: no join, no
    # aggregate, no window, no shuffle — the one range shuffle belongs
    # to the caller's materialization, not the key assignment
    assert "Join" not in p and "Window" not in p
    assert "Aggregate" not in p.replace("aggregate(", "")
    assert "Exchange" not in p


def test_x36_vocab_partial_topk_and_agg(spark, queries):
    p = plan_of(queries["x36_vocab_topk"](spark, SF))
    assert "CartesianProduct" not in p and "Join" not in p
    # top-k must be per-partition partial (never a full vocabulary sort)
    assert "TakeOrderedAndProject" in p
    # both aggregation levels partial+final
    assert p.count("HashAggregate") >= 4


def test_x37_reassembly_single_aggregate_no_window(spark, queries):
    p = plan_of(queries["x37_chunk_reassembly"](spark, SF))
    assert "Join" not in p and "Window" not in p
    assert "CartesianProduct" not in p
    # one doc-keyed aggregate (partial+final object hash agg), nothing else
    assert "Aggregate" in p


def test_x38_drift_broadcasts_reference_side(spark, queries):
    p = plan_of(queries["x38_corpus_drift"](spark, SF))
    assert "CartesianProduct" not in p
    # reference vocab + per-source totals ride broadcast joins; the
    # corpus-sized count relation must never shuffle for the join
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # the one cross join is the scalar t_r row
    assert p.count("BroadcastNestedLoopJoin") <= 1
    # all four sub-relations (cur/ref counts, totals, ref total) must
    # read the PERSISTED count aggregation — without the cache, filter
    # pushdown de-duplicates nothing and the corpus is tokenized 4x
    assert p.count("InMemoryTableScan") >= 4


def broadcast_children(df) -> list[str]:
    """First line under each broadcast hint of the analyzed plan."""
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    return [b.strip() for a, b in zip(lines, lines[1:]) if "strategy=broadcast" in a]


@pytest.mark.parametrize("big", [False, True])
def test_x34_batch_broadcast_follows_size_gate(spark, queries, monkeypatch, big):
    """The batch side of the incremental near-dup joins is broadcast
    unless the batch's size estimate passes the ``_big_corpus`` gate;
    past it the planner picks the join with no hint."""
    from rehiver_spark.operators import dedup

    monkeypatch.setattr(dedup, "_SELFJOIN_MERGE_MIN_EST_BYTES", 0 if big else 1 << 62)
    hinted = broadcast_children(queries["x34_incremental_neardup"](spark, SF))
    if big:
        assert hinted == []
    else:
        assert len(hinted) == 2 and all("batch_id" in h for h in hinted), hinted


@pytest.mark.parametrize("big", [False, True])
def test_x38_ref_broadcast_follows_size_gate(spark, queries, monkeypatch, big):
    """The reference counts are broadcast unless the corpus's size
    estimate passes the ``_big_corpus`` gate; the per-source totals and
    the scalar reference total stay broadcast either way."""
    from rehiver_spark.operators import dedup

    monkeypatch.setattr(dedup, "_SELFJOIN_MERGE_MIN_EST_BYTES", 0 if big else 1 << 62)
    hinted = broadcast_children(queries["x38_corpus_drift"](spark, SF))
    assert len(hinted) == (2 if big else 3), hinted
    assert any("cnt_r" in h for h in hinted) != big, hinted


def test_x39_hybrid_search_embeddings_never_shuffle(spark, queries):
    p = plan_of(queries["x39_hybrid_search"](spark, SF))
    assert "CartesianProduct" not in p
    # every join rides a broadcast: query ids/tokens against the corpus
    # token relation, and the tiny candidate set against embeddings —
    # neither the corpus tokens nor the embeddings sort-merge
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_x40_source_overlap_sizes_broadcast(spark, queries):
    p = plan_of(queries["x40_source_overlap"](spark, SF))
    assert "CartesianProduct" not in p
    # the per-source sizes relation (|sources| rows) must broadcast
    assert "BroadcastHashJoin" in p
    # r13 re-plan: pairs come from each gram's collect_set array as
    # pure projection — the corpus-gram relation must never shuffle a
    # second time through a gram-keyed self-join
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "partial_collect_set" in p or "collect_set" in p


def test_x45_bpe_pairs_partial_topk(spark, queries):
    p = plan_of(queries["x45_bpe_pairs"](spark, SF))
    # top-50 pairs via partial top-k, never a full global sort; both
    # aggregations partial-combined (partial_count / partial_sum)
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_x46b_bpe_apply_is_map_only(spark, queries):
    p = plan_of(queries["x46b_bpe_apply"](spark, SF))
    # the 100 TB tokenization pass: zero Exchange — output
    # partitioning = input partitioning, whole-stage codegen
    assert "Exchange" not in p


def test_x51_kmeans_no_unpartitioned_window(spark, queries):
    """The r5 verdict's one weak plan: seeding used a global row_number
    Window (every vector through ONE task). It is now a TakeOrdered
    collect of k rows; no Window — partitioned or not — may appear
    anywhere in the final x51 plan, and nothing may be a cartesian
    product."""
    p = plan_of(queries["x51_kmeans"](spark, SF))
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_x51_seeding_plan_is_take_ordered(spark):
    """The seeding job itself (built the same way kmeans_quantized
    builds it) must compile to TakeOrderedAndProject, never a sort or
    window over the full relation."""
    from rehiver_spark.functions.hashing import md5_hash60

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.select(
        F.col("vec_id").alias("_id"),
        F.transform(
            F.col("embedding"), lambda x: F.round(x * 10000, 0).cast("bigint")
        ).alias("q"),
    )
    seed_h = md5_hash60(F.concat(F.lit("km:"), F.col("_id").cast("string")))
    plan = plan_of(
        q.select(seed_h.alias("_h"), "_id", "q").orderBy("_h", "_id").limit(8)
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_x22b_adaptive_semdedup_has_no_cartesian_pair_stage(spark, queries):
    """The k∝N dial must keep the SemDeDup scaling shape: centroid
    assignment is the round-8 map-only Arrow kernel (the collected
    √N-clamped centroid table rides inside one ArrowEvalPython — no
    N×k join rows, no assignment window), and the pair stage is an
    equi-join keyed on cell_id — never a cartesian product. Since the
    round-9 cap rework the assignment output is localCheckpoint-cached
    (ONE kernel pass feeds both the prior-max stage and the final
    join), so the final plan reads the checkpoint boundary instead of
    inlining the kernel — the kernel's own shape is asserted on the
    assignment stage's plan."""
    p = plan_of(queries["x22b_semdedup_scaled"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p or "BuildRight" in p
    # the cached assignment boundary that makes the kernel run once
    assert "Scan ExistingRDD" in p
    assert "ArrowEvalPython" not in p  # nothing re-runs the kernel
    # the within-cell pair join is a real equi-join on cell_id
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p

    # the assignment stage itself: map-only Arrow kernel — no window,
    # no join, no N×k row materialization
    from pyspark.sql import functions as F

    from rehiver_spark.operators.vectorops import (
        _assign_cells_arrow,
        l2_normalize,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    normed = emb.select(
        F.col("vec_id").alias("_id"), l2_normalize("embedding").alias("_v")
    )
    cents = emb.orderBy(F.col("vec_id").asc()).limit(25).select(
        F.col("vec_id").alias("cell_id"), l2_normalize("embedding").alias("_centv")
    )
    ap = plan_of(_assign_cells_arrow(normed, cents))
    assert "ArrowEvalPython" in ap  # the map-only assignment
    for node in ("Window", "SortMergeJoin", "CartesianProduct", "HashAggregate"):
        assert node not in ap, node


def test_x16_arrow_stats_pass_is_map_only(spark):
    """The round-8 repetition rewrite exists to keep the per-doc stats
    map-side at C speed: the arrow DataFrame's plan must contain no
    aggregate, no window, no join — one Arrow eval over the scan (plus
    at most the ensure_parallelism round-robin repartition)."""
    from rehiver_spark.operators.textops import repetition_stats

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    p = plan_of(repetition_stats(d))
    for node in ("HashAggregate", "SortMergeJoin", "Window", "CartesianProduct"):
        assert node not in p


def test_x25_arrow_scoring_pass_is_map_only(spark):
    """The round-7 charlm rewrite exists to remove the per-char
    shuffle: the scoring DataFrame's plan must contain no aggregate,
    no window, and no join — one Arrow eval over the scan (plus at
    most the ensure_parallelism round-robin repartition)."""
    from rehiver_spark.operators.textops import charlm_score

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    p = plan_of(charlm_score(d))
    for node in ("HashAggregate", "SortMergeJoin", "Window", "CartesianProduct"):
        assert node not in p, f"{node} leaked into the arrow scoring pass"
    assert "ArrowEvalPython" in p or "MapInPandas" in p
