"""Physical-plan regression guards: the one spec of the engine's
plan-shape claims. PLANS.md is generated from this file
(``python tools/gen_plans.py > PLANS.md``): one section per guard that
takes the ``spark`` fixture, its docstring the claim, its assertions
the evidence.

Each assertion pins the property that makes the query survive a 100×
scale-up — pushdown reaching the scan, dims broadcasting, aggregates
running partial, no accidental cartesian products."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

import pytest

from datapipeline_template_spark.queries import load_all

REGISTRY = load_all()
SF = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parents[1]


def _plan(spark, name: str) -> str:
    return REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q01_pushdown_and_partial_agg(spark):
    """Filter pushdown and column pruning reach the parquet scan, and
    the aggregate runs partial (map-side) before its exchange."""
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "partial_sum" in plan
    # Column pruning: the untouched comment-free column must not be read.
    assert "l_orderkey" not in plan.split("ReadSchema", 1)[1][:400]


def test_q02_broadcasts_dimension(spark):
    """Dimension joins broadcast: no unnecessary shuffle join and no
    cartesian product around the fact scan."""
    plan = _plan(spark, "q02_top_revenue_orders")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q03_all_dims_broadcast(spark):
    """All dimensions broadcast around the fact scan: at least four
    broadcast hash joins and no sort-merge join."""
    plan = _plan(spark, "q03_regional_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan  # every dim fits the broadcast path


def test_q29_disjunction_still_pushes(spark):
    """The OR-of-ANDs predicate still pushes its single-side conjuncts
    to the lineitem scan."""
    plan = _plan(spark, "q29_disjunctive_predicates")
    assert "PushedFilters: [IsNotNull(l_partkey), Or(" in plan


def test_q35_sample_predicate_is_scan_side(spark):
    """The deterministic hash sample is a scalar filter evaluated in
    the scan stage, below the aggregate's exchange — no shuffle before
    the sample predicate."""
    plan = _plan(spark, "q35_deterministic_sample")
    assert "Filter" in plan and "Exchange" in plan
    assert plan.index("Filter") > plan.index("Exchange")  # filter below agg exchange


def test_pipe01_keep_latest_partial_combine(spark):
    """Keep-latest dedup is max_by with a map-side partial combine and
    exactly one hash exchange."""
    plan = _plan(spark, "pipe01_cdc_keep_latest")
    assert "partial_max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_dd03_band_join_is_equi(spark):
    """The LSH candidate join is an equi-join on (band, bucket): no
    cartesian product and no broadcast nested-loop join."""
    plan = _plan(spark, "dd03_minhash_lsh_candidates")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17b_is_joinless(spark):
    """The time-band pair count is a RANGE-frame window: no join at
    all."""
    plan = _plan(spark, "q17b_event_pairs_window")
    assert "Join" not in plan
    assert "Window" in plan


def test_tj01_asof_is_joinless_single_shuffle_window(spark):
    """The as-of join must stay the union+window form: no physical
    Join at all (the naive theta-join encoding explodes with match
    fan-out), exactly one hash-partitioning exchange on the key after
    the right side's dedup agg, and the click filter pushed to scan."""
    plan = _plan(spark, "tj01_asof_prev_click")
    assert "Join" not in plan
    assert "Window" in plan
    assert "EqualTo(event_type,click)" in plan  # pushdown on the right scan
    # user_id window exchange + (user_id, ts) dedup-agg exchange only.
    assert plan.count("Exchange hashpartitioning") == 2


def test_bench_headline_names_all_registered():
    """bench.py silently skips unknown names — a query rename must not
    quietly shrink the benchmark set."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"headline queries missing from registry: {missing}"
    missing = [n for n in bench.SECONDARY if n not in REGISTRY]
    assert not missing, f"secondary queries missing from registry: {missing}"
    # pipe10/pipe11/pipe13 are priced as marginals in curation_shared,
    # never as standalone secondary rows (each would recompute the
    # shared ~5 s extended flag pass); pipe12 is the one
    # full-composition row.
    assert "pipe12_curation_funnel_full" in bench.SECONDARY
    for marginal in (
        "pipe10_drop_attribution",
        "pipe11_data_card",
        "pipe13_curated_mixing",
    ):
        assert marginal not in bench.SECONDARY
    # Same rule for the PQ family: ss20/ss21/ss22 (and pipe14) are all
    # priced as shared-artifact marginals in the pq_shared /
    # curation_shared scenarios — ss21's standalone row was demoted in
    # round 10 (its 23 s standalone cost was the pq_shared ivfpq
    # marginal priced a second time; the r9 verdict's repricing item).
    for marginal in (
        "ss20_pq_adc_recall",
        "ss21_ivfpq_recall",
        "ss22_pq_rerank_recall",
        "pipe14_training_manifest",
        "pipe15_decontaminated_manifest",
    ):
        assert marginal not in bench.SECONDARY
    # Same rule for the SQ family: ss24 (full-scan) and ss25 (routed)
    # are the full-composition rows; ss26/ss28 re-fit those artifacts
    # and are priced as sq_shared marginals. pipe17 is a
    # curation_shared marginal like pipe15/pipe16.
    assert "ss24_sq_recall" in bench.SECONDARY
    assert "ss25_ivfsq_recall" in bench.SECONDARY
    for marginal in (
        "ss26_sq_rerank_recall",
        "ss28_ivfsq_rerank_recall",
        "pipe16_banded_manifest",
        "pipe17_dsir_manifest",
        "pipe18_budget_manifest",
        "pipe20_full_gate_manifest",
        "pipe22_e2e_training_pipeline",
    ):
        assert marginal not in bench.SECONDARY
    # Round-11 rotation: tx27b/q43 are headline rows now, not
    # secondary; their families' slots track the engine's center of
    # mass (r10 verdict item 7b).
    for name in ("tx27b_bm25_dense_vocab", "q43_kmv_distinct"):
        assert name in bench.HEADLINE and name not in bench.SECONDARY


def test_pk01_single_exchange_no_global_sort(spark):
    """Sequence packing must stay the one-shuffle shape: a single hash
    exchange on shard feeding the per-shard window — no global sort
    (rangepartitioning) and no join anywhere."""
    plan = _plan(spark, "pk01_sequence_packing")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan
    assert "Window" in plan


def test_similarity_joins_stay_in_codegen(spark):
    """The cosine join stages must run inside whole-stage codegen.
    The inline expanded cosine (192 round/cast terms per pair) used to
    generate >64 KB of bytecode in the broadcast join's doConsume, and
    Spark SILENTLY fell back to interpreted evaluation — invisible in
    the plan string, visible only as a CodeGenerator error log. With
    spark.sql.codegen.fallback=false that fallback becomes a hard
    error, so executing the queries IS the assertion."""
    prior = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in (
            "ss01_cosine_topk",
            "ss02_embedding_near_dup",
            "ss03_lsh_ann_pairs",
            "ss06_embedding_dedup_clusters",
        ):
            REGISTRY[name].fn(spark, SF).count()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prior)


def test_tj02_cascade_scans_raw_once(spark):
    """The rollup cascade's month level must read raw exactly once and
    re-aggregate through the chain — three partial hash aggregates, one
    file scan."""
    plan = _plan(spark, "tj02_cascade_rollup")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("partial_") >= 1
    assert plan.count("HashAggregate") >= 6  # 3 levels x (partial+final)


def test_select_survivors_drops_singletons_before_window(spark):
    """The min_cluster_size>=2 path must INNER-join docs to the (small)
    component map BEFORE the window, so the corpus' singleton mass —
    ~all of it at 100 TB — never hash-shuffles on component. A LeftOuter
    in the plan means the full corpus reached the shuffle."""
    from datapipeline_template_spark.operators.dedup import select_survivors

    docs = spark.range(1000).selectExpr("id AS doc_id", "id % 7 AS q")
    comp = spark.range(20).selectExpr("id AS node", "id % 5 AS component")
    plan = (
        select_survivors(docs, comp, "doc_id", "q", min_cluster_size=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join Inner" in plan or "BroadcastHashJoin" in plan
    assert "LeftOuter" not in plan
    # min_cluster_size=1 still emits singletons via the left-join form.
    plan1 = (
        select_survivors(docs, comp, "doc_id", "q", min_cluster_size=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftOuter" in plan1


def test_tx06_df_join_not_hint_forced(spark):
    """The tf⋈df join must carry no broadcast hint: df is the
    distinct-term dimension (billions of terms at web scale). With the
    auto-broadcast threshold disabled the optimizer must be free to
    pick a shuffle join on term; only the 1-row N aggregate stays
    broadcast."""
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "tx06_tfidf")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "SortMergeJoin" in plan  # the term join, optimizer-chosen
    assert plan.count("BroadcastHashJoin") <= 1  # only the 1-row N join


def test_q42_auto_bypasses_bloom_at_broadcast_scale(spark):
    """Round 6: the operator auto-bypasses the bitmap when Catalyst's
    dim estimate fits the broadcast threshold — at test scale q42 must
    plan as the PLAIN broadcast semi join (no bitmap build, none of
    its two extra shuffles)."""
    plan = _plan(spark, "q42_bloom_semi_join")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "bit_or" not in plan, plan  # no bitmap build anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_forced_bloom_probe_prefilters_fact_scan(spark):
    """The FORCED bloom path (use_bloom=True — the dim-too-big-to-
    broadcast regime): probe sits on the fact side as a plain Filter
    (xxhash64 bitmap tests) before the semi join, bitmap build
    partial-aggregates (bit_or), no Python anywhere."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.bloom import bloom_semi_join
    from pyspark.sql import functions as F

    li = table(spark, SF, "lineitem")
    urgent = table(spark, SF, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    out = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey", use_bloom=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan, plan
    assert "LeftSemi" in plan
    assert "partial_bit_or" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tj03_interval_join_is_hash_join(spark):
    """The interval-overlap join is a bin-bucketed hash join, never a
    broadcast nested-loop join."""
    plan = _plan(spark, "tj03_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))


def test_tj04_gapfill_carries_without_pair_join(spark):
    """tj04's LOCF is the JOINLESS as-of carry (union + window last),
    never a per-(day, event) pair join — and the daily grid comes from
    an in-plan sequence explode, no driver loop."""
    plan = _plan(spark, "tj04_gapfill_locf")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "last(" in plan  # the as-of window carry
    assert "Generate explode" in plan  # grid = sequence + explode
    assert "sequence(" in plan


def test_ss09_retrieval_is_bucket_equi_joins(spark):
    """The OR-construction RETRIEVAL side (ss09/ss10's scale path —
    the eval harness's exact-truth join is a deliberately bounded
    quadratic, so the guard pins the operator, not the harness): L
    bucket equi-joins, never an all-pairs stage."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.similarity import (
        lsh_multi_table_pairs,
    )

    emb = table(spark, SF, "embeddings").where(F.col("vec_id") < 500)
    out = lsh_multi_table_pairs(
        emb, "vec_id", "embedding", threshold=0.3, n_planes=8, n_tables=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_blk" in plan  # bucket key reaches the join condition
    assert any(j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))


def test_q26b_pass_aggregate_is_map_side_combined(spark):
    """q26b's per-pass counting plan (shared helper): the tiny task
    frame BROADCASTS onto the value scan and the (task, bucket) count
    partial-aggregates before its exchange — each refinement pass is
    one map-side-combined scan, the property that makes ≤7 passes
    cheaper than one shuffle of the values."""
    from datapipeline_template_spark.operators.sketch import _quantile_pass_counts

    df = spark.range(1000).selectExpr("CAST(id % 2 AS STRING) AS g", "id AS v")
    tasks = spark.createDataFrame(
        [(0, "0", 0, 999, 63), (1, "1", 0, 999, 63)],
        "_task int, g string, _lo long, _hi long, _w long",
    )
    plan = (
        _quantile_pass_counts(df, "g", "v", tasks)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_dd14b_span_pipeline_single_doc_shuffle(spark):
    """The span-grain ExactSubstr island pipeline: the window and the
    island groupBy share ONE doc-id exchange (dense_rank tolerates
    duplicate positions, so there is no pre-distinct exchange on
    (doc_id, tokpos)), and the rebuild joins the small removed-set
    side as a broadcast — the corpus mass never shuffles for the
    rebuild."""
    plan = _plan(spark, "dd14b_exact_substring_spans")
    # Exchanges: dup-window count (h) + window/groupBy (doc_id). A
    # third hash exchange would be the pre-distinct regression.
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "dense_rank" in plan


def test_ss11_multiprobe_retrieval_equi_join_no_distinct(spark):
    """Multi-probe retrieval: the probe-side explode joins the index
    on the bucket EQUI-key (never all-pairs), and for a single table
    there is NO distinct/aggregate dedup stage — exactly-once pair
    emission comes from mask uniqueness + id_a < id_b."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.similarity import (
        lsh_multi_probe_pairs,
    )

    emb = table(spark, SF, "embeddings").where(F.col("vec_id") < 500)
    out = lsh_multi_probe_pairs(
        emb, "vec_id", "embedding", threshold=0.3, n_planes=8, probe_bits=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_pb" in plan and "_bkt" in plan  # probe key meets index key
    # The ×|masks|-exploded probe side must NEVER be a broadcast build
    # (Catalyst's estimate misses the explode fan-out — driver OOM at
    # sf0.1); the operator pins the shuffled hash join on the bucket.
    assert "ShuffledHashJoin" in plan
    assert "BroadcastExchange" not in plan
    # No dedup: a HashAggregate over (id_a, id_b) would betray a
    # distinct creeping back in for the single-table form.
    assert "keys=[id_a" not in plan


def test_kmeans_assignment_is_map_only(spark):
    """ss13's scale claim: assignment has NO exchange — centroids ride
    the UDF closure, so the kernel stage is a pure map over the scan."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.clustering import kmeans_assign

    emb = table(spark, SF, "embeddings")
    q = emb.select("vec_id", quantize_vec("embedding").alias("_qv"))
    plan = (
        kmeans_assign(q, "_qv", [[0] * 64, [1] * 64])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan  # the pandas_udf kernel, Arrow-batched


def test_dd15_pair_join_is_equi_no_cartesian(spark):
    """SemDeDup's within-cluster pass must plan as a hash-partitioned
    equi-join on cluster — never a cartesian/BNLJ all-pairs."""
    plan = _plan(spark, "dd15_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ss14_mutual_knn_kernel_single_shuffle(spark):
    """The kNN graph runs as the per-block Arrow kernel (r13 verdict
    item 2): ONE block-keyed shuffle into FlatMapGroupsInPandas — no
    candidate join, no per-pair interpreted HOF cosine, no ranking
    window in the plan (matmul + rank + mutuality all happen inside
    the numpy batch; bit-equality vs the Catalyst reference form is
    pinned in test_operators.py)."""
    plan = _plan(spark, "ss14_mutual_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Join") == 0
    assert "Window [row_number()" not in plan


def test_tx19_classifier_partial_aggs(spark):
    """Vocabulary build and per-doc counts must map-side combine, and
    nothing in the classifier may plan as a cartesian product (the
    1-row totals crossJoin is a broadcast NLJ over one row, which is
    the intended shape)."""
    plan = _plan(spark, "tx19_classifier_filter")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_ss14b_blocked_form_is_one_block_shuffle(spark):
    """The cluster-blocked mutual-kNN kernel (ss14b's scale path, the
    form the registered query calls) is ONE exchange on the block key
    into FlatMapGroupsInPandas — no candidate join at all, so no
    cartesian or nested-loop pair stage. (The ss14b REGISTRY query also
    computes the deliberately-unblocked eval-slice truth, a bounded
    single-block pass by design, so the guard targets the operator
    form.)"""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from datapipeline_template_spark.operators.similarity import (
        mutual_knn_edges_kernel,
    )

    emb = table(spark, SF, "embeddings")
    cent = kmeans_fit(emb, "vec_id", "embedding", k=4, n_iter=1)
    asg = kmeans_assign(
        emb.select("vec_id", "embedding", quantize_vec("embedding").alias("_q")),
        "_q",
        cent,
    ).select("vec_id", "embedding", "cluster")
    plan = (
        mutual_knn_edges_kernel(asg, "vec_id", "embedding", k=3, block_col="cluster")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(_blk" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan


def test_dd16_no_allpairs_one_proto_window(spark):
    """D4 pruning: the SemDeDup stage stays a cluster equi-join and
    the prototype stage adds exactly one cluster-partitioned ranking
    window — no cartesian/BNLJ anywhere."""
    plan = _plan(spark, "dd16_d4_prune")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window [row_number()" in plan


def test_pipe12_funnel_no_cartesian(spark):
    """The 7-stage funnel composes the classifier token joins, the
    MinHash CC survivor ranking, and the SemDeDup equi-join — none of
    which may plan as a cartesian product."""
    plan = _plan(spark, "pipe12_curation_funnel_full")
    assert "CartesianProduct" not in plan

def test_pq_encode_is_map_only_no_shuffle(spark):
    """ss20's memory-compression claim: the m chained PQ code kernels
    all live in ONE map stage — zero exchanges between the embedding
    scan and the (vec_id, c0..c{m-1}) codes, so the 32× byte shrink
    costs no shuffle. Each pass is the Arrow-batched kmeans_assign
    kernel, never a row-at-a-time UDF."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import pq_encode

    emb = table(spark, SF, "embeddings")
    books = [[[0] * 8, [1] * 8] for _ in range(8)]
    plan = (
        pq_encode(emb, "vec_id", "embedding", books, sub_dim=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_pq_adc_distance_tables_are_query_side(spark):
    """ADC scoring: the k_sub-entry distance tables (the only
    interpreted-HOF work) are computed on the QUERY side BEFORE the
    candidate join — the per-candidate cost is m array lookups + adds.
    The query×codes theta join is bounded-eval by contract (compose
    with IVF cell routing at corpus scale, see pq_adc_topk docstring);
    top-k is one query-partitioned ranking window."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import (
        pq_adc_topk,
        pq_encode,
    )

    emb = table(spark, SF, "embeddings")
    books = [[[0] * 8, [1] * 8] for _ in range(8)]
    codes = pq_encode(emb, "vec_id", "embedding", books, sub_dim=8)
    plan = (
        pq_adc_topk(codes, emb.limit(5), "vec_id", "embedding", books,
                    sub_dim=8, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window [row_number()" in plan
    # The join condition itself must carry no vector math — only the
    # code-column lookups; zip_with/aggregate appear in the query-side
    # projection, not in the join predicate line.
    join_lines = [
        ln for ln in plan.splitlines() if "NestedLoopJoin" in ln or "Join" in ln
    ]
    assert join_lines and all("zip_with" not in ln for ln in join_lines)


def test_tx20b_byte_vocab_one_exchange(spark):
    """Byte-level BPE's word-vocab build (shared by tx20b/tx21b): the
    byte-symbol rep aggregate map-side combines per partition before a
    single word exchange — same one-shuffle shape tx20's word-level
    vocab pins."""
    from datapipeline_template_spark.queries.text import _tx20b_vocab

    plan = (
        _tx20b_vocab(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_sum" in plan or "partial_count" in plan
    # Exactly ONE exchange (on word) — the pinned one-shuffle claim;
    # a distinct or re-aggregation creeping in would add a second.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan

@pytest.mark.slow
def test_ss21_ivfpq_candidates_on_cluster_equijoin(spark):
    """IVF-PQ's corpus-scale claim: candidates form on a CLUSTER
    equi-join between routed queries and cell-tagged codes — never
    the bounded-eval theta join ss20 uses for pure-PQ accounting. The
    recall/hit joins against the eval-slice truth are the only
    BNLJ-eligible pieces and must not appear as cartesian products."""
    plan = _plan(spark, "ss21_ivfpq_recall")
    assert "CartesianProduct" not in plan
    # The probe→codes join keys on cluster (hash-partitioned).
    assert "hashpartitioning(cluster" in plan or (
        "BroadcastHashJoin [cluster" in plan
    )


def test_ss22_rerank_stage_no_cartesian(spark):
    """Two-stage retrieval plan shape: the exact re-rank joins the
    nq·depth shortlist to raw vectors on their ids — equi-joins only,
    never a cartesian re-expansion of the corpus. (The ADC shortlist
    itself is ss20's bounded-eval theta join, which Spark plans as
    broadcast nested loop — bounded by the eval slice, not corpus²;
    what must never appear is an unconstrained CartesianProduct.)"""
    plan = _plan(spark, "ss22_pq_rerank_recall")
    assert "CartesianProduct" not in plan
    # The re-rank top-k runs as a rank window, not a global sort+limit.
    assert "row_number" in plan


def test_dd17_singletons_skip_component_shuffle(spark):
    """Soft-dedup plan shape: only pair-participating docs reach the
    component-partitioned size window (exactly ONE exchange on the
    window key); the singleton mass exits through an id LEFT ANTI
    join with literal columns and never touches that exchange."""
    plan = _plan(spark, "dd17_duplicate_discount")
    assert "LeftAnti" in plan
    # Exactly one hash exchange on the component window key (_comp) —
    # the clustered subset; the anti-join branch adds none.
    assert plan.count("Exchange hashpartitioning(_comp") == 1


def test_tx22_pairs_without_shingle_self_join(spark):
    """Source-overlap plan shape: pair construction explodes each
    shingle's sorted source set in-task — no shingle self-join, no
    cartesian; the only joins are the two broadcast attaches of the
    per-source totals."""
    plan = _plan(spark, "tx22_source_overlap")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # totals broadcast; no big join
    assert plan.count("BroadcastHashJoin") == 2


def test_pk08_single_shard_exchange_into_pandas(spark):
    """No-split packing plan shape: ONE hash exchange on shard feeding
    one Arrow-batched FlatMapGroupsInPandas — the sequential placement
    never widens past its shard, and nothing else shuffles."""
    plan = _plan(spark, "pk08_nosplit_packing")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ss23_label_filter_pushed_to_scan(spark):
    """Filtered-ANN plan shape: the pre-filter predicate reaches the
    parquet scan (PushedFilters EqualTo(label,3)) so matching rows are
    pruned BEFORE the cell join at any corpus size, and neither
    strategy plans a cartesian product. Inspected via the LAZY
    strategy frames (_ss23_frames) — the registry query checkpoints
    its result sets, which hides the scans from ITS executed plan
    (this guard originally asserted on that plan and passed only
    because it predated the checkpoints)."""
    from datapipeline_template_spark.queries.similarity import _ss23_frames

    _, pre, post = _ss23_frames(spark, SF)
    pre_plan = pre._jdf.queryExecution().executedPlan().toString()
    post_plan = post._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(label,3)" in pre_plan
    assert "CartesianProduct" not in pre_plan
    assert "CartesianProduct" not in post_plan


def test_mm05_quadratic_stage_is_catalyst_only(spark):
    """Media near-dup plan shape: the Arrow fingerprint pass runs once
    (checkpointed before the self-join, so no Python node appears in
    the executed pair plan at all), and the pair stage is a blocked
    equi-join with XOR+popcount in codegen — no cartesian product."""
    plan = _plan(spark, "mm05_media_simhash_pairs")
    assert "ArrowEvalPython" not in plan  # fingerprints materialized
    assert "CartesianProduct" not in plan


def test_kmv_partial_form_is_map_side_combined(spark):
    """KMV scale-form plan shape: the per-batch reduction is an Arrow
    MapInPandas (narrow — no exchange between the scan and the local
    sketch), and the only wide stage is the final per-group merge of
    k-long partial arrays. The Catalyst form (q43's) pays the
    distinct-cardinality shuffle instead; the partial form is the one
    that survives a 100 TB value column."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import kmv_sketch_partial

    orders = table(spark, SF, "orders")
    df = kmv_sketch_partial(orders, "o_orderpriority", "o_custkey", k=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # Exactly one exchange: the group merge AFTER the local reduction.
    assert plan.count("Exchange hashpartitioning") == 1
    # The exchange carries the partial arrays, not raw rows.
    assert "_kmv_part" in plan


def test_sq_encode_is_map_only(spark):
    """SQ plan shape: training is a 64-group min/max agg; ENCODING is
    map-only — the 1-row stats frame broadcasts onto the scan and no
    hash exchange touches the corpus (the pq_encode contract, without
    even a codebook join). At 100 TB the encode pass costs one scan."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.similarity import (
        sq_dim_stats,
        sq_encode,
    )

    emb = table(spark, SF, "embeddings")
    qv = emb.select("vec_id", quantize_vec("embedding").alias("_qv"))
    stats = sq_dim_stats(qv).localCheckpoint(eager=True)
    plan = (
        sq_encode(qv, stats, 255)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "Broadcast" in plan  # the 1-row stats attach


def test_tx23_no_global_window(spark):
    """Surprisal-band plan shape: the whole query is map-reduce — two
    w-keyed partial aggregates, one broadcast total attach, one
    doc-keyed aggregate, and the banding is a plain projection against
    PINNED thresholds. No Window operator anywhere: the ntile the
    CCNet recipe implies lives in the offline threshold measurement
    (tests/test_parity.py), never in the query plan."""
    plan = _plan(spark, "tx23_surprisal_bands")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


@pytest.mark.slow
def test_ss25_candidates_on_cluster_equijoin(spark):
    """IVF-SQ composition keeps ss21's routed shape: candidate scoring
    joins on the coarse CLUSTER key (hash equi-join), never a
    cartesian/theta pair enumeration."""
    plan = _plan(spark, "ss25_ivfsq_recall")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cluster" in plan or "cluster" in plan


def test_q44_sketch_set_ops_group_keyed_only(spark):
    """KMV set-ops plan shape: every hash exchange is keyed on the
    cohort (yr) or the distinct custkey — the sketch build — and the
    sketch algebra itself (merge/θ/intersect) runs on two 1-row frames
    via broadcast attaches. No cartesian product, no sort-merge join:
    nothing in the plan grows faster than the distinct-key dedup any
    COUNT(DISTINCT) already pays."""
    plan = _plan(spark, "q44_kmv_set_ops")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)", plan))
    assert keys <= {"yr", "o_custkey"}, keys


def test_ss26_sq_rerank_no_cartesian(spark):
    """SQ re-rank keeps ss22's two-stage shape: the code-space
    shortlist is the bounded-eval broadcast pass, the exact re-rank
    joins shortlist ids to raw vectors — equi-joins only, never an
    unconstrained CartesianProduct; top-k stages are rank windows,
    not global sorts."""
    plan = _plan(spark, "ss26_sq_rerank_recall")
    assert "CartesianProduct" not in plan
    assert "row_number" in plan


def test_ss27_truncation_zero_training_no_cartesian(spark):
    """Dimension truncation is the zero-training encode: no stats agg,
    no fit — the only wide stages are the per-query rank windows; the
    query side broadcasts onto the corpus slice and no cartesian
    product appears."""
    plan = _plan(spark, "ss27_dim_truncation_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # bounded-eval theta pass
    assert "row_number" in plan


def test_tx25_dsir_windows_over_distinct_means_only(spark):
    """DSIR plan shape: the scoring is tx23's map-reduce family (w- and
    doc-keyed partial aggregates, broadcast total attach); the ONLY
    window pair is the selection cut's cumulative sum over DISTINCT
    integer means (mean_mb-keyed — domain-bounded), so no global sort
    of documents exists anywhere in the plan."""
    plan = _plan(spark, "tx25_dsir_selection")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 2  # cum-over-means + the 1-row total
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)", plan))
    assert keys <= {"doc_id", "mean_mb", "w"}, keys
    assert "partial_sum" in plan or "partial_count" in plan


def test_ss28_full_stack_rerank_no_cartesian(spark):
    """The three-stage serving composition's EXECUTED plan covers the
    re-rank stage (the routed shortlist is checkpointed — the ss23
    lesson: its cluster equi-join shape is guarded where it lives, in
    ss25's plan over the same fragment): equi-joins and rank windows
    only, never a cartesian product."""
    plan = _plan(spark, "ss28_ivfsq_rerank_recall")
    assert "CartesianProduct" not in plan
    assert "row_number" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_tx26_bigrams_map_only_extraction(spark):
    """Bigram-LM plan shape: transitions come from a per-row array
    zip — NO positional self-join, no window over token streams, no
    cartesian; everything else is the w-keyed partial-agg family."""
    plan = _plan(spark, "tx26_bigram_surprisal")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)", plan))
    assert keys <= {"doc_id", "w", "w1", "w2"}, keys


def test_dd18_candidates_equi_join_truth_slice_bounded(spark):
    """Operating-point harness keeps dd03's scale shape: candidate
    generation is an equi-join on (band, bucket) — never a broadcast
    nested loop over signatures; only the truth stage (checkpointed,
    slice-bounded) is quadratic by design, so the executed plan shows
    no cartesian product anywhere."""
    plan = _plan(spark, "dd18_lsh_operating_points")
    assert "CartesianProduct" not in plan


def test_pk09_windows_shard_local_no_global_sort(spark):
    """Batch-formation plan shape: both layout windows partition by
    shard (the pk01/pk08 rule) — no global sort (rangepartitioning),
    no join; the per-shard rank is the only wide stage."""
    plan = _plan(spark, "pk09_sorted_batching")
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)", plan))
    assert keys <= {"shard", "layout"}, keys


def test_q45_histogram_window_over_bins_only(spark):
    """Quantile-sketch plan shape: one (flag, bin)-keyed partial-agg
    count; the cumulative window runs over BINS (bounded domain —
    flag-partitioned), never over values; no join wider than the
    3-row-per-flag scalar attaches, no cartesian."""
    plan = _plan(spark, "q45_histogram_quantiles")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)", plan))
    assert keys <= {"flag", "l_returnflag"}, keys


def test_q46_topk_is_take_ordered_not_global_window(spark):
    """Calibration plan shape: the max-k smallest hashes come from
    Spark's distributed TakeOrdered (per-partition top-k, merge),
    never a global rank window over the whole distinct set. The
    registry query checkpoints that stage (the ss23 lesson — its
    executed plan hides the scan), so the shape is asserted on the
    stage itself; the final plan is checked cartesian-free."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import kmv_hash

    orders = table(spark, SF, "orders")
    top = (
        orders.where(F.col("o_custkey").isNotNull())
        .select(kmv_hash("o_custkey").alias("h"))
        .distinct()
        .orderBy("h")
        .limit(256)
    )
    stage = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in stage
    plan = _plan(spark, "q46_kmv_error_vs_k")
    assert "CartesianProduct" not in plan


def test_cm_sketch_partial_agg_and_broadcast_estimate(spark):
    """CM plan shape: the counter build partial-aggregates the exploded
    depth-row mixes before its single exchange (the shuffle carries ≤
    depth·width cells per map task, never the occurrence stream), and
    the estimate side BROADCASTS the ≤ depth·width-cell grid onto the
    query keys — no wide join touches the corpus."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import cm_estimate, cm_sketch

    keys = table(spark, SF, "orders").select(F.col("o_custkey").alias("k"))
    sk = cm_sketch(keys, "k", depth=4, width=512)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1

    items = keys.distinct()
    est = cm_estimate(sk, items, "k", depth=4, width=512)
    eplan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in eplan and "LeftOuter" in eplan


def test_rademacher_encode_is_map_only(spark):
    """Random-projection plan shape: the sign matrix is inlined as
    literals, so the encode is map-only — no exchange, no join, no
    Python node between the scan and the projected vectors (the
    sq_encode contract). At 100 TB the encode pass costs one scan."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.similarity import rademacher_project

    emb = table(spark, SF, "embeddings")
    qv = emb.select("vec_id", quantize_vec("embedding").alias("_qv"))
    plan = (
        rademacher_project(qv, 16, 64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_tx27_inverted_index_join_shape(spark):
    """BM25 plan shape: an inverted-index equi-join — the bounded
    query-term side broadcasts onto the stopword-pruned postings, and
    no doc×doc product ever forms (the only nested-loop join is the
    1-row stats scalar attach)."""
    plan = _plan(spark, "tx27_bm25_lexical_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_w10_funnel_single_user_shuffle(spark):
    """Funnel plan shape: both cumulative window passes AND the final
    per-user aggregate ride ONE user_id hash exchange — the window
    form's whole advantage over the oracle's three-join formulation
    (which pays a join shuffle per stage)."""
    plan = _plan(spark, "w10_funnel_stages")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_q48_window_fanout_is_equi_join(spark):
    """Rolling KMV merge plan shape: the 24-target window fanout is an
    explode + equi-(semi-)join on the hour index — never a range
    theta-join (BNLJ/CartesianProduct) between sketches and targets —
    and only SKETCH rows and the (hour, user) distinct pairs refan,
    never raw events."""
    plan = _plan(spark, "q48_kmv_rolling_distinct")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tj05_nearest_join_single_sort_no_theta(spark):
    """Nearest-join plan shape: one union + ONE user-keyed exchange
    serves BOTH directional carries (two frames over the same sort) —
    never a theta join or per-left fan-out (the asof_join argument,
    bidirectional)."""
    plan = _plan(spark, "tj05_nearest_click")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_ss34_one_shared_distance_pass(spark):
    """ss34's four operating points must share ONE routed-distance
    frame (checkpointed): the executed plan shows exactly four rank
    windows (one per n_probe) over scans of the SAME checkpoint —
    never a re-route or re-score per point, and never a cartesian
    product. (1-row stat frames attach via BroadcastNestedLoopJoin
    Cross — bounded by construction, the q30 scalar-broadcast shape —
    so BNLJ itself is NOT asserted absent; what is pinned is that the
    only BNLJ builds are single-row aggregates.)"""
    plan = _plan(spark, "ss34_tail_slo_nprobe_chooser")
    assert plan.count("Window [row_number") == 4
    assert "CartesianProduct" not in plan
    # Every BNLJ here must be the 1-row-aggregate cross attach, never
    # a data-sized build: each appears with a SinglePartition exchange
    # feeding it (the count/agg row), which caps the build at 1 row.
    assert plan.count("BroadcastNestedLoopJoin") <= 8


def test_dd20_no_cartesian_and_bounded_matrix_joins(spark):
    """dd20 composes six marked-set derivations plus the matrix
    reduction; whatever the constituent shapes, the composition must
    not introduce a cartesian product, and the marks self-join /
    grid joins must ride hash joins (methods ≤ 6 — the only self-join
    key is doc_id)."""
    plan = _plan(spark, "dd20_dedup_overlap_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q49_sketch_partial_agg_grid_sized_product(spark):
    """q49's grids must partial-aggregate map-side (the shuffle carries
    ≤ depth·width cells, never the key stream), and the inner product
    must join grid-sized frames — no cartesian product; the only BNLJ
    allowed is the 1-row stats/est attach."""
    plan = _plan(spark, "q49_cm_join_cardinality")
    # Grids + stats are checkpoint-truncated (built once, folded from
    # the widest): the final plan joins bounded ExistingRDD scans; the
    # map-side combine itself is pinned in
    # test_cm_sketch_partial_agg_and_broadcast_estimate.
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 12  # 1-row attaches


def test_pk10_single_stratum_window(spark):
    """pk10 is one race-key projection + ONE per-source rank window —
    no joins, no cartesian, nothing data-sized beyond the stratum
    shuffle."""
    plan = _plan(spark, "pk10_weighted_sample")
    assert plan.count("Window [row_number") == 1
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # pure window pipeline


def test_dd21_prefix_join_equi_no_cartesian(spark):
    """dd21's candidate generation must ride an EQUI-join on the
    prefix element (hash/sort-merge — never a cartesian product or
    data-sized BNLJ), and the prefix frame feeds both join sides from
    ONE materialization (no duplicated rank-window subtree — the
    derivation ran twice before the checkpoint landed)."""
    plan = _plan(spark, "dd21_prefix_filter_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)
    assert "Window [row_number" not in plan  # checkpoint-truncated
    assert "Scan ExistingRDD" in plan


def test_ss36_pagerank_rounds_checkpoint_bounded(spark):
    """ss36's final plan must be checkpoint-truncated: 5 rounds of
    join+agg would otherwise stack into one exponential tree (the CC
    lesson) — after localCheckpoint the executed plan joins two
    bounded scans and ranks once."""
    plan = _plan(spark, "ss36_pagerank_centrality")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed rounds, not lineage
    assert plan.count("Window [row_number") == 1


def test_q50_two_keyed_aggregates_no_window(spark):
    """q50 is two map-side-combined keyed aggregations plus a 1-row
    rebase broadcast — no window, no sort beyond the output order, no
    cartesian beyond the single-row attach."""
    plan = _plan(spark, "q50_activity_trend")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row min


def test_q51_single_rank_chain_checkpointed(spark):
    """q51's distinct-hash rank chain materializes ONCE and serves
    both k estimators; the final plan joins bounded scans — no
    cartesian beyond the 1-row stat attaches."""
    plan = _plan(spark, "q51_kmv_agg_size")
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 6  # 1-row attaches


def test_tx32_window_over_vocab_not_occurrences(spark):
    """tx32's rank window must sit ABOVE the (source, token) count
    aggregate — ranking |vocab| rows per source, never the token
    occurrence stream — and the count itself partial-aggregates."""
    plan = _plan(spark, "tx32_zipf_exponent")
    assert plan.count("Window [row_number") == 1
    assert "partial_count" in plan
    # Plans print root-first: the DEEPEST partial_count (the freq
    # count) must sit BELOW the window — the five-sums agg above it
    # also partial-counts, so compare against the LAST occurrence.
    assert plan.rindex("partial_count") > plan.index("Window [row_number")
    assert "CartesianProduct" not in plan


def test_dd23_composition_no_cartesian(spark):
    """dd23 composes the LSH candidate join, the prefix-join truth and
    three 1-row count attaches — whatever the constituent shapes, no
    data-sized cartesian product may appear (the dd20 rule; the only
    BNLJs allowed are the single-row aggregate attaches)."""
    plan = _plan(spark, "dd23_lsh_global_recall")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4  # 1-row attaches


def test_q52_bucketed_join_no_exchange_below_join(spark):
    """q52's whole point: the fact-fact sort-merge join reads
    pre-bucketed storage, so NOTHING below the join shuffles — the
    only Exchanges in the plan belong to the downstream aggregate and
    the final orderBy. The tree prints children below their parent,
    so the substring after the SortMergeJoin node is exactly the join
    subtree."""
    plan = _plan(spark, "q52_bucketed_join")
    assert "SortMergeJoin" in plan
    below = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below, f"bucketed side shuffles:\n{below[:800]}"
    # Bucket pruning actually engaged: the scans read the bucketed
    # tables, not raw parquet.
    assert "Bucketed: true" in plan


def test_pipe19_salted_two_phase_shape(spark):
    """The salted keep-latest must really be TWO keyed hash
    aggregates (salt grain then key grain), both with map-side
    partials, and no window/sort — the shape whose largest task is
    bounded at |hot key|/n_salts."""
    plan = _plan(spark, "pipe19_salted_keep_latest")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_dd24_aqe_skew_join_splits_degenerate_bucket(spark):
    """lsh_candidate_pairs' scale claim, executed: on the dd24
    degenerate corpus the banded self-join's giant buckets are split
    by AQE's skew-join — `skew=true` must appear on the SortMergeJoin
    in the POST-execution adaptive plan, and the join must still
    produce the exact candidate count. Thresholds are lowered to
    toy-scale to make the 256 MB-default machinery observable.

    Two preconditions this test documents (both discovered by
    measurement, round 11): (a) splits happen at MAP-OUTPUT
    granularity, so the upstream must have >1 partition — dd03/dd24's
    repartition(defaultParallelism) is what makes buckets splittable
    at all (a single-mapper feed reports ZERO skewed partitions no
    matter how giant the bucket); (b) detection is RELATIVE
    (factor × median partition size), so shuffle partitions must
    exceed the count of degenerate buckets (8, one per band) or the
    giants spread one-per-partition and the median IS the giant."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_tokens,
    )
    from datapipeline_template_spark.operators.text import tokenize
    from datapipeline_template_spark.queries.dedup import degenerate_documents

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # The downstream DISTINCT re-shuffles the join output; without
        # force, the rule can bail to avoid the (already-paid) extra
        # exchange.
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        docs = table(spark, "/root/testdata/sf0.01", "documents").repartition(32)
        deg = degenerate_documents(docs)
        sh = deg.select(
            "doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles")
        )
        sigs = minhash_signatures(
            sh, "doc_id", "shingles", num_hashes=32
        ).localCheckpoint(eager=True)
        pairs = lsh_candidate_pairs(
            sigs, "doc_id", "sig", bands=8, rows_per_band=4, eager=False
        )
        agg = pairs.groupBy().count()
        assert agg.collect()[0][0] == 70125  # C(375,2) from the 8 giants
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:1200]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mm06_phash_banded_equi_join_no_cartesian(spark):
    """Perceptual near-dup plan shape (the mm05 rule applied to
    pHash): the Arrow fingerprint pass is checkpointed before any
    join (no Python node in the executed pair plan), and both the
    banded candidate stage and the verify stage are equi-joins —
    never a cartesian."""
    plan = _plan(spark, "mm06_media_phash_pairs")
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q53_no_candidate_join_executed(spark):
    """The chooser's whole point: no candidate join ever runs. The
    only hash joins are the three GRID-sized inner products
    (depth×width rows per side) and the 1-row stat attaches — never a
    sort-merge join over the raw key streams, never a cartesian."""
    plan = _plan(spark, "q53_join_strategy_chooser")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 3  # one grid product per pair
    assert plan.count("BroadcastNestedLoopJoin") <= 6  # 1-row attaches


def test_q55_no_candidate_join_and_width_scales(spark):
    """q55 closes q53's width loop without ever executing a candidate
    join: no sort-merge join over the raw key streams, no cartesian —
    the only joins are grid-sized fold products and 1-row stat
    attaches. And the decisions themselves: the auto-sized width must
    satisfy the ≥ 4-cells-per-distinct-key rule, which drives
    lineitem⋈orders' amp under the 20× veto (q53's fixed width left
    15.6× pure slack there)."""
    from datapipeline_template_spark.queries.relational import (
        _Q53_VETO_AMP_MILLI,
        _Q55_CELLS_PER_KEY,
        _Q55_SUPER_WIDTH,
    )

    plan = _plan(spark, "q55_width_sized_chooser")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

    rows = {
        r["pair"]: r
        for r in REGISTRY["q55_width_sized_chooser"].fn(spark, SF).collect()
    }
    assert set(rows) == {"customer_orders", "events_events", "lineitem_orders"}
    for r in rows.values():
        want = _Q55_CELLS_PER_KEY * max(r["d_left"], r["d_right"])
        assert r["width"] >= min(want, _Q55_SUPER_WIDTH)
        # est stays an overestimate bounded by exact + slack·max_side:
        # the decision columns must at least be self-consistent.
        assert r["slack_bound_milli"] == (
            min(r["n_left"], r["n_right"]) * 1000
        ) // r["width"]
    li = rows["lineitem_orders"]
    # Decisions are data-driven: at this suite's sf0.001 the orders
    # side is broadcast-eligible; at sf0.01 (the sweep gate, where
    # that budget is outgrown) the same pair lands shuffle_smj — the
    # hash-green oracle pins that. What must hold at ANY sf is the
    # width-sizing claim itself: the auto width keeps the amp under
    # the veto (q53's fixed 1024 left it at 15.6× here).
    from datapipeline_template_spark.queries.relational import (
        _Q53_BROADCAST_ROWS,
    )

    expected = (
        "broadcast"
        if min(li["n_left"], li["n_right"]) <= _Q53_BROADCAST_ROWS
        else "shuffle_smj"
    )
    assert li["decision"] == expected
    assert li["amp_est_milli"] < _Q53_VETO_AMP_MILLI


@pytest.mark.slow
def test_ss38_beam_walk_stays_bounded(spark):
    """The beam walk must never go corpus-quadratic at query time:
    no cartesian anywhere (the only unconditioned products are 1-row
    stat attaches, broadcast-hinted to BNLJ), and the final frame's
    recall/budget columns stay self-consistent — n_hit ≤ n_truth,
    budgets strictly increase with beam width (a wider beam can only
    visit more), recall monotone non-decreasing."""
    plan = _plan(spark, "ss38_graph_ann_beam")
    assert "CartesianProduct" not in plan

    rows = [
        r.asDict()
        for r in REGISTRY["ss38_graph_ann_beam"].fn(spark, SF).collect()
    ]
    assert [r["beam_width"] for r in rows] == [4, 8, 16]
    for r in rows:
        assert 0 <= r["n_hit"] <= r["n_truth"]
    for a, b in zip(rows, rows[1:]):
        assert b["n_scored"] >= a["n_scored"]
        assert b["n_hit"] >= a["n_hit"]


def test_tj06_bucketed_asof_zero_query_time_exchange(spark):
    """The 100 TB as-of shape: with both sides bucketed on user_id,
    the SMJ reads co-bucketed scans AND the keyed max_by reuses the
    join's output partitioning (grouping keys ⊇ the partition key) —
    the entire query-time plan carries ZERO hash-partition Exchanges.
    The only shuffles anywhere are the two write-time bucket
    clusterings, already amortized in the q52 story."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "tj06_bucketed_asof")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:900]
    assert "CartesianProduct" not in plan


def test_tx33_post_curve_plan_is_bounded(spark):
    """tx33 checkpoints the doc-sized (N_i, V_i) curve (it feeds both
    the fit and the totals); everything after it must stay bounded —
    one broadcast join of the per-source fit onto the per-source
    totals, keyed aggregations only, no window re-evaluation and no
    sort-merge join."""
    plan = _plan(spark, "tx33_heaps_exponent")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_pipe23_salt_chooser_plan_and_decision(spark):
    """The salt chooser closes pipe19's loop from data: the whole
    measure → choose → execute plan must carry NO window (the dedup is
    two-phase max_by, the measurement a map-side-combined count — a
    Window here would reintroduce the single-task hot-key sort the
    chooser exists to avoid), the 2-row decision must attach by
    BROADCAST, and the decisions themselves are pinned at sf0.01: the
    90 %-hot feed picks 16 salts, the uniform feed picks 1 — the
    provable no-op (phase 1 with one salt degenerates to plain
    keep_latest)."""
    plan = _plan(spark, "pipe23_salt_sized_keep_latest")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # Phase-1 grouping really is salted (the _salt key reaches an agg).
    assert "_salt" in plan

    rows = {
        r["feed"]: r.asDict()
        for r in REGISTRY["pipe23_salt_sized_keep_latest"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert set(rows) == {"hot", "uni"}
    assert rows["hot"]["n_salts"] == 16
    assert rows["uni"]["n_salts"] == 1
    # Self-consistency of the decision arithmetic at any sf: the pow2
    # choice covers the want derived from the measured share.
    for r in rows.values():
        want = max((r["hot_share_milli"] * 64 + 999) // 1000, 1)
        assert r["n_salts"] >= want and r["n_salts"] & (r["n_salts"] - 1) == 0
        assert r["n_winners"] <= r["n_groups"] * 1  # one winner per group
        assert r["n_winners"] == r["n_groups"]


def test_q23_scalar_subquery_is_broadcast_aggregate(spark):
    """The correlated scalar subquery decorrelates to a per-part
    average that partial-aggregates and BROADCASTS onto the fact scan;
    the quantity comparison rides that hash join's condition — no
    per-row subquery, no nested-loop join."""
    plan = _plan(spark, "q23_small_qty_revenue")
    assert "partial_avg" in plan
    assert "Subquery" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert any(
        "avg_qty" in ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln
    )


def test_q27_pivot_is_two_level_partial_aggregate(spark):
    """The pivot is a two-level hash aggregate over pre-combined rows:
    a (priority, flag) count, then the pivot on priority — both
    map-side combined, both exchanges keyed on priority, and no
    shuffle join."""
    plan = _plan(spark, "q27_pivot_returns_by_priority")
    assert plan.count("Exchange hashpartitioning(o_orderpriority") == 2
    assert "partial_count" in plan and "partial_pivotfirst" in plan
    assert "SortMergeJoin" not in plan


def test_w08_sessionize_single_user_shuffle(spark):
    """Sessionization: ONE user_id exchange serves both windows (the
    gap lag and the running session sum) and the final per-session
    groupBy — no join, no second shuffle."""
    plan = _plan(spark, "w08_sessionize_events")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(user_id" in plan
    assert plan.count("Window [") == 2
    assert "Join" not in plan


@pytest.mark.slow
def test_dd05_kernel_signatures_feed_band_equi_join(spark):
    """The numpy MinHash kernel: signatures come from one Arrow
    MapInPandas pass, and candidates form on the same (band, bucket)
    equi-join dd03 uses — never all-pairs."""
    plan = _plan(spark, "dd05_minhash_lsh_kernel")
    assert "MapInPandas" in plan
    assert re.search(r"Join \[_band#\d+, _bucket#\d+\]", plan)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dd11_first_occurrence_window_no_corpus_shuffle(spark):
    """Chunk dedup: the first-occurrence rank window is chunk-
    partitioned over the contested-chunk join, and the rebuild attaches
    each doc's small drop list by a broadcast LEFT join — the corpus
    never shuffles; the only doc_id exchange is the drop-list
    aggregate."""
    plan = _plan(spark, "dd11_chunk_dedup")
    assert "Window [row_number() windowspecdefinition(chunk" in plan
    assert re.search(r"BroadcastHashJoin \[doc_id#\d+L\], \[doc_id#\d+L\], LeftOuter", plan)
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert "SortMergeJoin" not in plan


def test_q47_cm_estimate_broadcasts_grid(spark):
    """Count-Min estimate (q47): every join BROADCASTS a grid-sized
    frame onto the query keys as a LEFT join — no sort-merge or
    nested-loop join, so no corpus-sized join anywhere. (The grid's
    map-side combine is pinned on the operator by
    test_cm_sketch_partial_agg_and_broadcast_estimate.)"""
    plan = _plan(spark, "q47_cm_frequency_sketch")
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("BroadcastHashJoin") == plan.count("LeftOuter, BuildRight")
    assert "SortMergeJoin" not in plan and "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ss29_projection_recall_bounded_eval_shape(spark):
    """Rademacher projection recall keeps ss27's shape: retrieval is
    the bounded-eval broadcast nested-loop pass plus one per-query rank
    window per stage — no cartesian product. (The map-only encode is
    pinned by test_rademacher_encode_is_map_only.)"""
    plan = _plan(spark, "ss29_random_projection_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Window [row_number() windowspecdefinition(query_id") == 3


def test_tx27b_bm25_dense_vocab_inverted_index(spark):
    """Integer BM25 over the dense vocab keeps tx27's inverted-index
    shape: tf/df/dl partial-aggregate off the token explode, and the
    bounded query-term side broadcasts onto the postings on the term
    key — no doc×doc product, no sort-merge join."""
    plan = _plan(spark, "tx27b_bm25_dense_vocab")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan
    assert re.search(r"BroadcastHashJoin \[_t#\d+\], \[_t#\d+\]", plan)


def test_ss32_tail_histogram_bounded_reductions(spark):
    """Per-query tail recall reuses ss24/ss25's retrieval: candidates
    on a cluster equi-join and two per-query rank windows; the new
    reductions (per-query hit counts, the 0..k grid) attach by LEFT
    joins — no cartesian product."""
    plan = _plan(spark, "ss32_tail_recall_histogram")
    assert "CartesianProduct" not in plan
    assert re.search(r"Join \[cluster#\d+L\], \[cluster#\d+L\]", plan)
    assert plan.count("Window [row_number() windowspecdefinition(query_id") == 2
    assert "LeftOuter" in plan


def test_ss37_one_label_window_over_checkpointed_walk(spark):
    """Centrality-weighted sampling: the PageRank vector is a
    checkpoint scan joined to the labels once by broadcast, then ONE
    label-partitioned rank window races the winners — its exchange is
    the only one."""
    plan = _plan(spark, "ss37_centrality_weighted_sample")
    assert "Scan ExistingRDD[node" in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Window [row_number() windowspecdefinition(label") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_tx31_mad_rank_windows_broadcast_medians(spark):
    """Median/MAD calibration: group-partitioned rank windows over a
    narrow projection, with the per-group medians broadcast between
    the passes — every exchange is group-keyed (the only range
    exchange orders the per-source output), never a document sort;
    no sort-merge join, no cartesian."""
    plan = _plan(spark, "tx31_mad_length_gate")
    assert plan.count("Window [row_number() windowspecdefinition(_g") == 3
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)", plan))
    assert keys <= {"_g", "source"}, keys
    assert set(re.findall(r"Exchange rangepartitioning\((\w+)", plan)) <= {"source"}
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_dd22_drift_audit_reads_checkpoints(spark):
    """Prefix-order drift audit: both order variants read checkpointed
    shingle sets and candidate pairs; verification joins candidate ids
    to the sets on equi-keys, and the only nested-loop joins are the
    1-row count attaches — no cartesian."""
    plan = _plan(spark, "dd22_prefix_order_drift")
    assert "Scan ExistingRDD[_vid" in plan and "Scan ExistingRDD[id_a" in plan
    assert re.search(r"Join \[id_a#\d+L\], \[id_a#\d+L\]", plan)
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert "CartesianProduct" not in plan


def test_mm07_chunk_sets_prefix_equi_join(spark):
    """CDC-chunk media near-dup reuses dd21's prefix-filter join: the
    chunk-hash sets and the prefix frame are checkpointed, candidates
    ride an equi-join on the rare prefix chunk, and verification
    touches candidate ids only — no cartesian, no nested-loop join."""
    plan = _plan(spark, "mm07_media_chunk_dedup")
    assert "Scan ExistingRDD" in plan
    assert "Window [row_number" not in plan  # prefix ranks checkpointed
    assert re.search(r"Join \[_s#\d+L\], \[_s#\d+L\]", plan)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_w12_retention_sketches_are_bounded_windows(spark):
    """Sketched retention triangle: the cohort and day KMV sketches are
    rank windows over distinct (group, hash) rows, pruned map-side by
    WindowGroupLimit; cells join sketch-sized frames — no sort-merge
    join, no cartesian."""
    plan = _plan(spark, "w12_retention_sketched")
    assert plan.count("Window [row_number") == 2
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_dd25_survivors_keyed_max_by_no_window(spark):
    """Classifier-quality survivors: cluster labels and scores meet in
    keyed max_by aggregations with map-side partials — no window over
    the corpus, no cartesian."""
    plan = _plan(spark, "dd25_classifier_survivors")
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_ss15_ivf_candidates_on_cell_equijoin(spark):
    """Deterministic IVF: cell assignment and probe selection are Arrow
    kernels (map-only), candidates form on a cluster equi-join (each
    query touches ~n_probe/k of the corpus), and the exact rerank is
    one query-partitioned window — never all-pairs."""
    plan = _plan(spark, "ss15_ivf_kmeans_ann")
    assert "ArrowEvalPython" in plan
    assert re.search(r"Join \[cluster#\d+L\], \[cluster#\d+L\]", plan)
    assert plan.count("Window [row_number() windowspecdefinition(query_id") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow
def test_ss33_rrpq_rotation_checkpointed_bounded_eval(spark):
    """RR-PQ: the rotated vectors are a checkpoint scan (the signed
    permutation is a literal projection), and downstream is ss20's
    bounded-eval PQ plan — the nested-loop code pass plus per-query
    rank windows, no cartesian."""
    plan = _plan(spark, "ss33_rrpq_recall")
    assert re.search(r"Scan ExistingRDD\[vec_id#\d+L,rvec", plan)
    assert plan.count("Window [row_number() windowspecdefinition(query_id") == 2
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_pipe22_packing_reads_checkpointed_kept_set(spark):
    """End-to-end training pipeline: the tokenizer and packing read the
    checkpointed silver-joined kept set (an ExistingRDD scan, not the
    curation lineage), and packing is pk01's per-shard window — one
    shard exchange, no cartesian."""
    plan = _plan(spark, "pipe22_e2e_training_pipeline")
    assert re.search(r"Scan ExistingRDD\[doc_id#\d+L,text", plan)
    assert plan.count("Window [") == 1
    assert plan.count("Exchange hashpartitioning(shard") == 1
    assert "CartesianProduct" not in plan


def test_plans_md_is_generated_from_the_guards():
    """PLANS.md is exactly ``tools/gen_plans.py``'s output, so a guard
    added, renamed or re-documented without regenerating fails here."""
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "gen_plans.py")],
        capture_output=True, text=True, check=True,
    ).stdout
    assert (REPO / "PLANS.md").read_text() == out
