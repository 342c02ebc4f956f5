"""Plan-shape regressions: pin the physical-plan features that matter at
100 TB but are invisible in small-data result checks (SURVEY §7 "explain
and iterate"). If one of these fails while results still match, a scale
regression slipped in.

Pinned against the pre-AQE plan (plans.plan_summary) — the declared
strategy, not the local-data runtime rewrite.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from postgres_etl_pipeline_spark.plans import plan_summary, scan_columns
from postgres_etl_pipeline_spark.queries import REGISTRY, queries as load_all


@pytest.fixture(scope="module", autouse=True)
def _load():
    load_all()


def q(name, spark, sf):
    return REGISTRY[name].fn(spark, sf)


def test_star_join_broadcasts_all_dims_no_fact_shuffle_before_agg(spark, sf_small):
    df = q("star_join_revenue", spark, sf_small)
    s = plan_summary(df)
    # round 14 (guide §3.1): the fact⋈okey_nation join is a FORCED
    # ShuffledHashJoin — without the hint the planner broadcasts the
    # pruned LINEITEM side (backwards at every scale); a forced
    # broadcast of the orders-sized side would OOM at real scale; and
    # the SMJ degradation pays a sort SHJ skips. Never a sort-merge,
    # never a broadcast of an SF-scaling relation.
    assert s.sort_merge_joins == 0
    assert s.shuffled_hash_joins == 1
    # customer and the fixed-cardinality nation×region dim still
    # broadcast at this SF
    assert s.broadcast_joins >= 1
    # round 14 (verdict r13 item 3): ONE aggregation — the round-13
    # nationkey pre-agg + 25-row re-agg shape cost an extra Exchange that
    # bought nothing (map-side combine collapses each task to ≤25 groups
    # either way). Shuffles: the SHJ's two orderkey exchanges plus the
    # final (region, nation) agg exchange.
    assert s.shuffles == 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    # map-side combine: a partial HashAggregate sits BELOW the exchange
    assert plan.count("HashAggregate") >= 2


def test_q6_is_pure_scan_filter_agg(spark, sf_small):
    df = q("q6_revenue_delta", spark, sf_small)
    s = plan_summary(df)
    assert s.joins == 0
    assert s.scans == 1
    # quantity/discount/shipdate predicates reach the parquet reader
    assert s.scans_with_pushed_filters == 1
    # single-partition agg exchange only
    assert s.shuffles == 0


def test_q6_scan_prunes_to_needed_columns(spark, sf_small):
    df = q("q6_revenue_delta", spark, sf_small)
    (cols,) = scan_columns(df)
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_daily_mart_partial_agg_before_shuffle(spark, sf_small):
    df = q("daily_sales_mart", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # map-side combine: a HashAggregate must appear below the Exchange
    assert plan.count("HashAggregate") >= 2
    s = plan_summary(df)
    assert s.shuffles == 1


def test_q5_large_joins_are_sort_merge_dims_broadcast(spark, sf_small):
    df = q("q5_local_supplier_volume", spark, sf_small)
    s = plan_summary(df)
    # lineitem ⋈ orders (both scale with SF) must NOT be planned as a
    # broadcast: at 100 TB that's an executor OOM
    assert s.sort_merge_joins >= 1
    assert s.broadcast_joins >= 3  # region→nation→supplier chain + customer
    assert s.scans_with_pushed_filters >= 2  # r_name + o_orderdate minimum


def test_q16_not_in_is_broadcast_anti_join(spark, sf_small):
    df = q("q16_supplier_counts", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in plan


def test_typed_projection_is_shuffle_free(spark, sf_small):
    df = q("typed_projection", spark, sf_small)
    s = plan_summary(df)
    assert s.shuffles == 0 and s.joins == 0


def test_pricing_summary_prunes_lineitem(spark, sf_small):
    df = q("pricing_summary", spark, sf_small)
    for cols in scan_columns(df):
        # 16-column lineitem must not be read wholesale for a 7-column agg
        assert "l_orderkey" not in cols and "l_partkey" not in cols


def test_scalar_subquery_broadcasts_one_row_agg(spark, sf_small):
    df = q("q15_top_supplier", spark, sf_small)
    s = plan_summary(df)
    assert s.broadcast_joins >= 2  # 1-row max + supplier dim
    # rev is aggregated once then reused; no third lineitem scan
    assert s.scans <= 3


def test_wholestage_codegen_covers_hot_path(spark, sf_small):
    from postgres_etl_pipeline_spark.plans import wholestage_spans

    df = q("daily_sales_mart", spark, sf_small)
    df.collect()  # finalize the AQE plan so codegen spans are visible
    assert wholestage_spans(df) >= 1


def test_salted_join_adds_no_extra_shuffles(spark, sf_small):
    from postgres_etl_pipeline_spark.operators.relational import salted_join

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{sf_small}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    df = salted_join(li, o, "l_orderkey", "o_orderkey", salt_buckets=4)
    s = plan_summary(df)
    # one shuffle per side on the (key, salt) — salting must not introduce
    # a pre-shuffle repartition pass
    assert s.shuffles <= 2


def test_q19_pushes_per_relation_disjunctions_to_both_scans(spark, sf_small):
    import re

    from postgres_etl_pipeline_spark.plans import plan_string

    df = q("q19_disjunctive_revenue", spark, sf_small)
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan_string(df, "formatted"))
    li = [p for p in pushed if "l_quantity" in p]
    pt = [p for p in pushed if "p_brand" in p]
    # Catalyst extracts the per-relation common disjunctions from the
    # OR-of-ANDs and pushes them into each parquet scan
    assert li and "Or(" in li[0]
    assert pt and "Or(" in pt[0]


def test_partitioned_write_prunes_directories_at_read(spark, sf_small, tmp_path):
    import re

    from postgres_etl_pipeline_spark.plans import plan_string

    path = str(tmp_path / "orders_by_status")
    o = spark.read.parquet(f"{sf_small}/orders.parquet")
    o.write.partitionBy("o_orderstatus").parquet(path)

    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = plan_string(back, "formatted")
    m = re.search(r"PartitionFilters: \[[^\]]*o_orderstatus[^\]]*\]", plan)
    # the status predicate must prune DIRECTORIES (partition filter), not
    # run as a data filter over all files
    assert m, plan[:500]
    statuses = {r.o_orderstatus for r in back.select("o_orderstatus").collect()}
    assert statuses == {"F"}
    # executed scan touches only the o_orderstatus=F directory: the scan
    # metric counts 1 of the 3 status partitions
    scan_metrics = back._jdf.queryExecution().executedPlan().toString()
    # (inputFiles() reflects the UNpruned index, so assert via the plan's
    # selected-partition count instead)
    import re as _re

    sel = _re.search(r"partition count: (\d+)", scan_metrics)
    if sel:  # metric text varies by Spark minor; PartitionFilters above is
        assert sel.group(1) == "1"  # the load-bearing assertion either way


def test_repetition_scores_partial_aggs_before_both_shuffles(spark, sf_small):
    """Both exploded aggregations (tokens, bigrams) must map-side combine:
    at corpus scale the (doc, token) partials collapse per task before any
    shuffle. spread() adds one round-robin repartition locally; beyond it
    the plan is the two keyed agg exchanges plus the doc_id join."""
    df = q("doc_repetition_scores", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4  # partial+final per branch


def test_span_dedup_never_broadcasts_the_span_relation(spark, sf_small):
    """The positional-span relation grows with the corpus — if Catalyst
    ever broadcast-joins it against the span counts, the plan OOMs at
    scale. Both sides must meet in a shuffle join keyed on the span."""
    df = q("span_dedup_coverage", spark, sf_small)
    s = plan_summary(df)
    assert s.broadcast_joins == 0
    assert s.sort_merge_joins + s.shuffled_hash_joins >= 1


def test_centroids_scan_prunes_to_group_and_vector(spark, sf_small):
    df = q("label_embedding_centroids", spark, sf_small)
    (cols,) = scan_columns(df)
    assert cols == {"label", "embedding"}


def test_mixture_sample_is_single_scan_single_shuffle(spark, sf_small):
    """Deterministic sampling is a scan-time map — one pass over documents,
    one aggregate exchange on the low-cardinality source key."""
    df = q("source_mixture_sample", spark, sf_small)
    s = plan_summary(df)
    assert s.scans == 1 and s.joins == 0


def test_decontaminate_broadcasts_the_eval_gram_set(spark, sf_small):
    """The eval side is small by definition; the CORPUS n-gram relation is
    the 100 TB side and must never shuffle on the gram key — the plan is
    corpus scan → broadcast hash join → doc-keyed aggregate."""
    df = q("decontaminate_vs_eval", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    s = plan_summary(df)
    assert s.sort_merge_joins == 0 and s.shuffled_hash_joins == 0


def test_source_quota_group_limit_is_pushed_map_side(spark, sf_small):
    """per_source_quality_quota: quality is scan-side, the ranking window
    runs behind a PARTIAL WindowGroupLimit that sits BEFORE the
    source-keyed exchange — each map task forwards ≤ quota rows per
    source, so the shuffle is O(sources × quota × tasks), not the
    corpus. If the partial limit disappears, a hot domain ships whole."""
    df = q("per_source_quality_quota", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    partial = plan.find("WindowGroupLimit") != -1 and "Partial" in plan
    assert partial, plan
    # the Partial group-limit must appear BELOW (after, in toString order)
    # the source-hash exchange it feeds
    exch = plan.find("Exchange hashpartitioning(source")
    part_idx = plan.find(", Partial")
    assert exch != -1 and part_idx > exch, plan
    s = plan_summary(df)
    assert s.joins == 0


def test_chunking_is_scan_time_only(spark, sf_small):
    """Context-window chunking is a pure per-row expansion: one scan, no
    joins; the only exchange is spread()'s local round-robin unlock."""
    df = q("doc_chunks_overlap", spark, sf_small)
    s = plan_summary(df)
    assert s.scans == 1 and s.joins == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_runtime_bloom_filter_row_level_pruning(spark, sf_small):
    """Engine capability pin: Catalyst's runtime bloom-filter join pruning
    (spark.sql.optimizer.runtime.bloomFilter.*) injects a bloom_filter_agg
    subquery on the selective build side and a might_contain row filter on
    the probe side of a shuffle join. At 100 TB this is the difference
    between shuffling every probe-side row and shuffling only rows whose
    key can exist on the other side; the size thresholds (default 10 MB
    creation side) make it self-gating on a cluster — here they are
    lowered to exercise the path on test data, with results asserted
    identical to the plain plan."""
    from postgres_etl_pipeline_spark.session import scoped_conf

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_small}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    join = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    plain = {(r.o_orderpriority, r.n) for r in join.collect()}

    with scoped_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        },
    ):
        li2 = spark.read.parquet(f"{sf_small}/lineitem.parquet")
        od2 = spark.read.parquet(f"{sf_small}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        bloomed = (
            li2.join(od2, li2.l_orderkey == od2.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = bloomed._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan.lower()
        assert {(r.o_orderpriority, r.n) for r in bloomed.collect()} == plain


def test_interval_union_single_user_exchange(spark, sf_small):
    # the new-island flag window, the running island-id window, the island
    # aggregate AND the per-user rollup must all reuse ONE hash exchange on
    # user_id (HashPartitioning(user_id) satisfies every downstream
    # clustering) — step count never multiplies the shuffles
    df = q("interval_union_coverage", spark, sf_small)
    s = plan_summary(df)
    assert s.shuffles == 1
    assert s.joins == 0


def test_weighted_sample_is_take_ordered_no_shuffle(spark, sf_small):
    # A-Res top-n must plan as TakeOrderedAndProject (each map task forwards
    # its local top 100) — no global sort, no data-sized shuffle; the rank
    # window runs on the 100 surviving rows only
    df = q("weighted_doc_sample", spark, sf_small)
    s = plan_summary(df)
    assert s.shuffles == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_cdc_apply_one_key_window_one_agg_exchange(spark, sf_small):
    # changelog collapse = one okey-keyed exchange; survivor audit = one
    # output-sized agg exchange; the update/delete scans push their
    # modulo predicates into the parquet reader
    df = q("cdc_apply_orders", spark, sf_small)
    s = plan_summary(df)
    assert s.shuffles == 2
    assert s.joins == 0
    assert s.scans_with_pushed_filters >= 2


def test_salted_agg_is_two_phase(spark, sf_small):
    # phase 1 shuffles on (key, salt), phase 2 on key — exactly two
    # exchanges, no reducer ever owns a whole hot key's raw rows
    df = q("salted_event_type_agg", spark, sf_small)
    s = plan_summary(df)
    assert s.shuffles == 2
    assert s.joins == 0


def test_sq8_rerank_joins_are_broadcast(spark, sf_small):
    # candidate ids and the query matrix are both tiny by construction —
    # the re-rank must never plan a corpus-sized sort-merge join
    df = q("sq8_quantized_topk", spark, sf_small)
    s = plan_summary(df)
    assert s.sort_merge_joins == 0
    assert s.broadcast_joins >= 1


def test_bpe_bigram_single_shuffle_take_ordered(spark, sf_small):
    # pair counting = one map-side-combined agg exchange; the top-50 cut is
    # TakeOrdered (no global sort); rank window runs on 50 rows
    df = q("bpe_bigram_pair_counts", spark, sf_small)
    s = plan_summary(df)
    assert s.shuffles == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_prefix_filter_join_never_sort_merge_or_nested_loop(spark, sf_small):
    # the prefix self-join must stay a hash join on the shingle key (the
    # post-Generate broadcast-estimator trap pinned for jaccard_pairs);
    # every shuffle in the plan is linear in corpus shingle volume
    df = q("jaccard_prefix_filter_dups", spark, sf_small)
    s = plan_summary(df)
    assert s.sort_merge_joins == 0
    assert s.nested_loop_joins == 0
    assert s.shuffled_hash_joins >= 1


def test_cdc_gc_audit_adds_no_shuffle_over_plain_apply(spark, sf_small):
    # tombstone GC is a pure filter on the collapsed survivors — the plan
    # must cost exactly what cdc_apply_orders costs (one key-window
    # exchange + one audit-agg exchange), or compaction stopped being the
    # cheap maintenance pass SCALE.md claims
    df = q("cdc_tombstone_gc_audit", spark, sf_small)
    s = plan_summary(df)
    assert s.shuffles == 2
    assert s.joins == 0


def test_triangle_census_no_nested_loop_beyond_scalar_crossjoins(spark, sf_small):
    # the wedge and closing joins must stay keyed hash/sort joins; the
    # only nested-loop joins allowed are the two 1-row scalar crossJoins
    # assembling the (n_vertices, n_edges, n_triangles) output row
    df = q("near_dup_triangle_census", spark, sf_small)
    s = plan_summary(df)
    assert s.nested_loop_joins <= 2
    assert s.joins - s.nested_loop_joins >= 3  # deg×2, wedge, closing


def test_bloom_dedup_probe_adds_no_exchange_and_never_shuffles_index(spark):
    # three pins on bloom_incremental_exact_dedup's scale contract:
    # (1) the per-fp all-k AND re-aggregation after the word-probe join
    #     reuses the keeper group-by's fp partitioning — a
    #     hashpartitioning(fp, doc_id) exchange anywhere means Catalyst
    #     stopped propagating the clustering through Generate + the
    #     broadcast join;
    # (2) the verify path is broadcast end-to-end (candidate sliver by
    #     contract) — an SMJ/shuffled-hash join means the index side
    #     started shuffling;
    # (3) with the probe materialized (the default), the operator adds
    #     ZERO exchanges beyond the probe stage itself, and the shared
    #     probe relation feeds all three consumers (>= 2 RDD scans).
    import re

    from postgres_etl_pipeline_spark.operators.dedup import (
        bloom_incremental_exact_dedup,
    )
    from postgres_etl_pipeline_spark.operators.text import fingerprint
    from postgres_etl_pipeline_spark.plans import plan_string

    new = spark.createDataFrame(
        [(i, f"doc {i % 7}") for i in range(10)], "doc_id long, text string"
    )
    idx = spark.createDataFrame(
        [(f"doc {i}",) for i in range(5)], "text string"
    ).select(fingerprint("text").alias("fp"))

    lazy = bloom_incremental_exact_dedup(
        new, idx, num_bits=1 << 12, num_hashes=3, materialize_probe=False
    )
    s = plan_summary(lazy)
    assert s.sort_merge_joins == 0 and s.shuffled_hash_joins == 0
    p = plan_string(lazy, "simple")
    assert not re.search(r"Exchange hashpartitioning\(fp[^,]*, doc_id", p), p

    mat = bloom_incremental_exact_dedup(new, idx, num_bits=1 << 12, num_hashes=3)
    sm = plan_summary(mat)
    # exactly ONE visible exchange: the distinct on the semi-join output
    # (candidate-MATCHING rows only — bounds the anti-join broadcast under
    # index fp multiplicity; review finding r07). The full index and the
    # probe never shuffle.
    assert sm.shuffles == 1
    assert sm.broadcast_joins == 2  # semi prefilter + exact anti verify
    assert plan_string(mat, "simple").count("ExistingRDD") >= 2


def test_per_source_weighted_sample_group_limit_pushed_map_side(spark, sf_small):
    # same contract as the quality quota: the A-Res key is scan-side, and
    # the per-source rank filter runs as a Partial WindowGroupLimit below
    # the source-keyed exchange — each map task forwards ≤ 20 rows/source
    df = q("per_source_weighted_sample", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    exch = plan.find("Exchange hashpartitioning(source")
    part_idx = plan.find(", Partial")
    assert exch != -1 and part_idx > exch, plan
    s = plan_summary(df)
    assert s.joins == 0 and s.shuffles == 1


def test_dsir_broadcasts_logratios_never_shuffles_by_token(spark, sf_small):
    # The DSIR design claim: the fixed 1024-bucket feature space keeps the
    # distributions broadcast-sized; the token relation is aggregated with
    # map-side combine and the only hash exchanges are (doc, bucket)
    # aggregations / the per-doc weight — never a token-keyed join.
    from postgres_etl_pipeline_spark.plans import plan_string

    df = q("dsir_importance_resample", spark, sf_small)
    s = plan_summary(df)
    assert s.broadcast_joins >= 1  # lam joins back via broadcast
    assert s.sort_merge_joins == 0 and s.shuffled_hash_joins == 0
    p = plan_string(df, "simple")
    assert "TakeOrderedAndProject" in p  # top-200 is a TakeOrdered, not a sort
    assert "hashpartitioning(token" not in p  # never shuffled by token


def test_pq_adc_is_one_scan_plus_bounded_rerank(spark, sf_small):
    # Approximate stage = ONE Arrow-batched corpus scan; candidate cut is a
    # per-query window; re-rank joins <= Q*k*rerank ids with the query side
    # broadcast by contract.
    from postgres_etl_pipeline_spark.plans import plan_string

    df = q("pq_adc_topk", spark, sf_small)
    s = plan_summary(df)
    assert s.broadcast_joins >= 1  # qdf side
    p = plan_string(df, "simple")
    assert p.count("MapInPandas") == 1  # encode+ADC fused in one scan pass


def test_span_rewrite_stats_shuffle_join_tokens_never_exchanged(spark, sf_small):
    """Both sides of the span-stats join grow with the corpus, so they must
    meet in the pinned SHUFFLE_HASH join — never a broadcast, never a
    sort-merge over the full positional relation. The only other keyed
    exchanges are the per-doc interval collapse (struct rows, no token
    arrays); the reconstruction join builds on that bounded relation, so
    the token arrays themselves are never exchanged."""
    df = q("span_dedup_rewrite", spark, sf_small)
    s = plan_summary(df)
    assert s.shuffled_hash_joins >= 1  # the span-stats join, pinned by hint
    assert s.nested_loop_joins == 0
    assert s.broadcast_joins <= 1  # at most the interval rejoin


def test_containment_prefix_join_shape(spark, sf_small):
    """The A-prefix × B-full candidate join must stay a hash join on the
    shingle key (the same post-Generate broadcast-estimator trap pinned
    for jaccard/prefix-filter), with no sort-merge over the exploded
    relation and no nested loop anywhere — the sub-linear claim is the
    prefix's candidate cut, not a different join algorithm."""
    df = q("containment_prefix_dups", spark, sf_small)
    s = plan_summary(df)
    assert s.sort_merge_joins == 0
    assert s.nested_loop_joins == 0
    assert s.shuffled_hash_joins >= 1


def test_ivfpq_prunes_scan_and_keeps_single_adc_pass(spark, sf_small):
    """IVF-PQ = one assignment pass + ONE fused encode/ADC scan over the
    PRUNED corpus: the probed-cid cut is a broadcast semi-join (partition
    pruning on a cid-partitioned 100 TB corpus), the re-rank's query side
    is broadcast by contract, and no join may degenerate to nested loop."""
    from postgres_etl_pipeline_spark.plans import plan_string

    df = q("ivfpq_topk", spark, sf_small)
    s = plan_summary(df)
    assert s.nested_loop_joins == 0
    assert s.broadcast_joins >= 2  # probed-cid semi-join + qdf re-rank side
    p = plan_string(df, "simple")
    # exactly two Arrow passes: centroid assignment, then encode+ADC
    assert p.count("MapInPandas") == 2


def test_snm_multipass_no_single_partition_and_linear_passes(spark, sf_small):
    """Two blocking passes must still mean ZERO Exchange SinglePartition
    (the ranking-kernel contract) — multi-pass recall must not smuggle a
    global sort in — and verification joins stay hash/broadcast."""
    from postgres_etl_pipeline_spark.plans import plan_string

    df = q("snm_multipass_near_dups", spark, sf_small)
    p = plan_string(df, "simple")
    assert "Exchange SinglePartition" not in p
    s = plan_summary(df)
    assert s.nested_loop_joins == 0


def test_ivfpq_residual_is_one_fused_scan_plus_bounded_rerank(spark, sf_small):
    """IVFADC fuses coarse assignment, residual encoding, and ADC into
    ONE Arrow pass (vs the raw composition's assign-then-score pair) —
    three int64 BLAS matmuls per batch, no corpus re-scan between them;
    the re-rank's query side broadcasts and nothing nests."""
    from postgres_etl_pipeline_spark.plans import plan_string

    df = q("ivfpq_residual_topk", spark, sf_small)
    s = plan_summary(df)
    assert s.nested_loop_joins == 0
    assert s.broadcast_joins >= 1  # qdf re-rank side
    p = plan_string(df, "simple")
    assert p.count("MapInPandas") == 1  # the fused residual-ADC pass


def test_filtered_ivf_scan_prunes_partitions_and_masks_inside(spark, sf_small, tmp_path):
    """The filtered-index scan must read only PROBED cid directories
    (PartitionFilters on the cid layout) with the label mask applied as
    a data filter INSIDE the scan+join — the corpus is never shuffled by
    the filter column (a label-keyed exchange would skew on hot labels)."""
    import re

    from postgres_etl_pipeline_spark.operators import similarity as S
    from postgres_etl_pipeline_spark.queries import spread, t

    emb = spread(t(spark, sf_small, "embeddings"))
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb, path, n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
        extra_cols=("label",),
    )
    probe_df = spark.createDataFrame(
        [(0, 1, [0.0] * 64, 3)],
        "query_id long, cid int, qv array<double>, qval int",
    )
    scan = (
        spark.read.parquet(path)
        .filter(F.col("cid").isin([1, 2]))
        .join(F.broadcast(probe_df), "cid")
        .filter(F.col("label") == F.col("qval"))
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*\]", plan)
    assert m, plan[:800]
    s = plan_summary(scan)
    assert s.broadcast_joins >= 1
    assert s.sort_merge_joins == 0 and s.shuffled_hash_joins == 0


def test_delete_discovery_scan_prunes_to_id_and_cid(spark, sf_small, tmp_path):
    """Tombstone delete's affected-cell DISCOVERY pass must read only
    (neighbor_id, cid) of the layout — at 100 TB this is the difference
    between a metadata-sized scan and re-reading every vector column to
    find which cells to rewrite."""
    from postgres_etl_pipeline_spark.operators import similarity as S
    from postgres_etl_pipeline_spark.queries import spread, t

    emb = spread(t(spark, sf_small, "embeddings"))
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=1, kmeans_init="random"
    )
    ids = emb.filter(F.col("vec_id") % 7 == 3).select(
        F.col("vec_id").cast("long").alias("neighbor_id")
    ).distinct()
    discovery = (
        spark.read.parquet(path).join(ids, "neighbor_id")
        .select("cid").distinct()
    )
    for cols in scan_columns(discovery):
        if "cv" in cols:
            raise AssertionError(f"discovery scan reads vectors: {cols}")


def test_retrain_reencode_is_one_linear_pass(spark, sf_small, tmp_path):
    """The codebook retrain's re-encode must be ONE shuffle-free,
    join-free scan→mapInPandas pass over the layout — 'retrain costs one
    linear pass' is the operator's whole scale promise."""
    from postgres_etl_pipeline_spark.operators import similarity as S
    from postgres_etl_pipeline_spark.queries import spread, t

    emb = spread(t(spark, sf_small, "embeddings"))
    path = str(tmp_path / "index")
    S.write_ivfpq_index(emb, path, n_centroids=8)
    Cc, As, scale = S.read_ivfpq_sidecars(spark, path)
    layout = spark.read.parquet(path)
    reencoded = S._ivfpq_encode_pass(layout, Cc, As, scale, keep_cids=True)
    s = plan_summary(reencoded)
    assert s.joins == 0, s
    assert s.shuffles == 0, s


def test_distributed_probe_order_pass_is_shuffle_free(spark, sf_small, tmp_path):
    """The filtered-probe loop's probe-order derivation must be one
    shuffle-free Arrow pass over the query relation (broadcast
    centroids) — a 10M-query batch gets its nearest-first orders without
    moving a row. On IVF-PQ lattice codes its elementwise int64
    distances order the lists exactly as the expanded form does."""
    import numpy as np

    from postgres_etl_pipeline_spark.operators import similarity as S
    from postgres_etl_pipeline_spark.queries import spread, t

    emb = spread(t(spark, sf_small, "embeddings"))
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=1, kmeans_init="random",
        extra_cols=("label",),
    )
    qdf = emb.select(
        F.col("vec_id").alias("query_id"),
        S.as_double_vec("embedding").alias("qv"),
    )
    porder = S._probe_order(qdf, "qv", S.read_ivf_centroids(spark, path))
    s = plan_summary(porder)
    assert s.joins == 0 and s.shuffles == 0, s

    pq = str(tmp_path / "pq")
    S.write_ivfpq_index(emb, pq, n_centroids=8, coarse="anchor")
    Cc, _As, scale = S.read_ivfpq_sidecars(spark, pq)
    qq = emb.select(
        F.col("vec_id").alias("query_id"),
        S.fixed_point_codes(S.as_double_vec("embedding"), scale).alias("qq"),
    )
    rows = sorted(qq.collect())
    Qq = np.array([r["qq"] for r in rows], dtype=np.int64)
    d2 = (
        (Qq * Qq).sum(axis=1)[:, None]
        - 2 * (Qq @ Cc.T)
        + (Cc * Cc).sum(axis=1)[None, :]
    )
    expanded = np.argsort(d2, axis=1, kind="stable")
    got = sorted(S._probe_order(qq, "qq", Cc).collect())
    assert [(r[0], r[1], r[2]) for r in got] == [
        (r["query_id"], j, int(cid))
        for r, order in zip(rows, expanded)
        for j, cid in enumerate(order)
    ]


def test_sequence_packing_has_no_single_partition_window(spark, sf_small):
    """Sequence packing's global running offset must be the two-phase
    distributed prefix sum, NEVER a single-partition window sort: the
    cumsum window is partitioned by the range-partition id, so no
    operator in the plan runs on Exchange SinglePartition — the exact
    bottleneck the naive one-window formulation (which the DuckDB
    oracle deliberately states) would hit at 100 TB."""
    df = q("pack_training_sequences", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-partition cumsum is real


def test_shuffled_and_bpe_packing_stay_single_partition_free(spark, sf_small):
    """The round-13 packing variants keep the two-phase prefix-sum plan
    shape: the seeded permutation range-partitions ON THE HASH (verdict
    r12 item 5) and the BPE count swaps only the token-count expression
    (item 6) — neither may reintroduce an Exchange SinglePartition."""
    for name in (
        "pack_training_sequences_shuffled",
        "pack_training_sequences_bpe",
    ):
        df = q(name, spark, sf_small)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, name
        assert "Window" in plan, name


def test_nb_classifier_model_broadcasts_and_stays_jvm_side(spark, sf_small):
    """The learned quality gate's scale contract (round 13): the trained
    model reaches scoring as an explicit BroadcastHashJoin probe (4096
    rows — never a shuffle of the corpus by bucket), the only wide
    corpus exchanges key on doc_id, and the whole train+score
    composition stays inside JVM codegen — no Python eval anywhere, no
    real cartesian (the 1-row totals/prior factors ride broadcast
    nested-loop by construction)."""
    df = q("nb_quality_classifier_topk", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython both


def test_keep_rate_gate_has_no_single_partition_exchange(spark, sf_small):
    """The keep-rate admission selects by global rank; the engine-side
    ranker must stay the bucketed two-pass global_rank — the naive
    single global window the oracle states (one Exchange
    SinglePartition) must never appear in the executed plan."""
    df = q("classifier_gate_keep_rate", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "EvalPython" not in plan


def test_curriculum_gated_packing_stays_single_partition_free(spark, sf_small):
    """The capstone composition (gate -> global-rank admission ->
    curriculum packing) chains TWO stages whose naive forms are global
    windows; the executed plan must contain no Exchange SinglePartition
    anywhere — both stages run their distributed formulations."""
    df = q("pack_curriculum_gated_corpus", spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "EvalPython" not in plan


def test_driver_local_frames_plan_without_python_rdds(spark, sf_small, tmp_path):
    """Driver-side rows (seed dims, the typed payload, collected results,
    empty-result frames) plan as JVM LocalRelations: no LogicalRDD means
    no pickled Python RDD, so no Python worker is started to read them."""
    from postgres_etl_pipeline_spark import datagen
    from postgres_etl_pipeline_spark.streaming.runner import read_state_or_empty

    frames = {
        "dim_store": datagen.dim_store(spark),
        "dim_product": datagen.dim_product(spark),
        "transactions_df": datagen.transactions_df(spark, "plan-shape", "ok", n=5),
        "collected result": q("csv_roundtrip_orders", spark, sf_small),
        "empty result": read_state_or_empty(
            spark, str(tmp_path / "absent"), "k string, n long"
        ),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, f"{name}: {plan}"
        assert "LocalRelation" in plan, f"{name}: {plan}"


def test_collecting_the_seed_dims_runs_no_spark_job(spark, jobs_during):
    from postgres_etl_pipeline_spark import datagen

    # the probe does see jobs
    assert jobs_during(lambda: spark.range(3).collect()) >= 1
    assert jobs_during(lambda: datagen.dim_store(spark).collect()) == 0
    assert jobs_during(lambda: datagen.dim_product(spark).collect()) == 0


@pytest.mark.parametrize(
    "name",
    ["embedding_cosine_topk", "filtered_label_topk", "incremental_topk_update"],
)
def test_exact_cosine_topk_scores_in_the_jvm(spark, sf_small, name):
    """The exact cosine scorers run inside the JVM: no Python evaluation
    node in the executed plan, so no Python worker starts. The queries
    are broadcast and the corpus streams into the join unshuffled: every
    hash exchange is the per-query window's (keyed on query_id alone),
    and the only other exchanges are the inputs' round-robin spread."""
    df = q(name, spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, (node, plan)
    s = plan_summary(df)
    assert s.broadcast_joins >= 1, s
    assert s.sort_merge_joins == s.shuffled_hash_joins == 0, s
    assert s.nested_loop_joins == 0, s
    exchanges = re.findall(r"\bExchange (\w+)\(([^)]*)\)", plan)
    assert exchanges, plan
    for kind, keys in exchanges:
        if kind == "hashpartitioning":
            assert re.fullmatch(r"query_id#\d+L, \d+", keys), (kind, keys)
        else:
            assert kind == "RoundRobinPartitioning", (kind, keys)


# Every call site in the package that starts a Python worker, by module and
# enclosing function. Adding one is a deliberate edit of this list.
PYTHON_WORKER_APIS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
    "applyInPandasWithState", "transformWithStateInPandas",
    "pandas_udf", "udf", "udtf",
}
PYTHON_WORKER_SITES = Counter({
    "operators/multimodal.py:extract_features": 1,
    "operators/multimodal.py:resize_payloads": 1,
    "operators/multimodal.py:sample_frames": 1,
    "operators/similarity.py:assign_to_centroids": 1,
    "operators/similarity.py:sq8_topk": 1,
    "operators/similarity.py:_pq_search": 1,
    "operators/similarity.py:_ivfpq_encode_pass": 1,
    "operators/similarity.py:_probe_order": 1,
    "operators/similarity.py:_adc_scores": 1,
    "operators/text.py:ngram_udtf": 1,
    "operators/timeseries.py:grouped_ewma": 1,
    "streaming/jobs.py:stateful_user_profile": 1,
    "streaming/jobs.py:stateful_user_profile_tws": 1,
})


def test_python_worker_call_sites_are_pinned():
    """Tooling guard: the package's Python-worker paths (pandas/Arrow
    maps, grouped and stateful pandas applies, Python UDFs and UDTFs)
    are exactly the allow-listed ones, so a new path that would start
    a worker pool cannot slip in unnoticed."""
    root = Path(__file__).resolve().parent.parent / "postgres_etl_pipeline_spark"
    found = Counter()

    def visit(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            name = (
                child.attr if isinstance(child, ast.Attribute)
                else child.id if isinstance(child, ast.Name)
                else None
            )
            if name in PYTHON_WORKER_APIS:
                found[f"{rel}:{fn}"] += 1
            visit(child, rel, inner)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        visit(ast.parse(path.read_text(), filename=str(path)), rel, None)
    assert found == PYTHON_WORKER_SITES


STREAM_DRAIN_CALLS = ("writeStream", "trigger", "awaitTermination")


def test_stream_drain_is_written_once():
    """Tooling guard: every availableNow drain in the package starts,
    awaits and stops its query through the one helper
    ``streaming/runner.py:_drain``, the only place that builds a
    ``writeStream``, sets a ``trigger`` or calls ``awaitTermination``,
    so a second drain cannot bypass its timeout and scratch-checkpoint
    cleanup."""
    root = Path(__file__).resolve().parent.parent / "postgres_etl_pipeline_spark"
    found = Counter()

    def visit(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if isinstance(child, ast.Attribute) and child.attr in STREAM_DRAIN_CALLS:
                found[f"{rel}:{fn}.{child.attr}"] += 1
            visit(child, rel, inner)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        visit(ast.parse(path.read_text(), filename=str(path)), rel, None)
    assert found == Counter(
        {f"streaming/runner.py:_drain.{call}": 1 for call in STREAM_DRAIN_CALLS}
    )


IVF_LIFECYCLE_OPS = (
    "append_to_ivf_index", "resplit_ivf_cell", "measure_ivf_coarse_drift",
    "rebuild_ivf_index", "build_ivf_index_versioned",
    "rebuild_ivf_index_versioned", "delete_from_ivf_index", "maintain_index",
    "ivf_index_topk", "filtered_ivf_topk",
)


def test_ivf_lifecycle_ops_are_defined_once_for_both_codecs():
    """Tooling guard: each IVF maintenance op and persisted-index search
    is ONE function serving both cell codecs (the codec comes from the
    layout's _meta stamp), so no per-codec ``*_ivfpq_*`` twin of append,
    re-split, coarse drift, rebuild, versioned build/rebuild, delete,
    search or filtered search may reappear, and neither the ANN module
    nor the streaming runner takes a ``kind`` / ``index_kind`` option
    that the stamp already determines."""
    root = Path(__file__).resolve().parent.parent / "postgres_etl_pipeline_spark"
    tree = ast.parse((root / "operators/similarity.py").read_text())
    defs = Counter(
        n.name for n in tree.body if isinstance(n, ast.FunctionDef)
    )
    assert all(defs[op] == 1 for op in IVF_LIFECYCLE_OPS), defs
    twin = re.compile(
        r".*ivfpq.*(append|resplit|coarse_drift|rebuild|versioned|delete"
        r"|index_topk).*"
        r"|.*(append|resplit|coarse_drift|rebuild|versioned|delete"
        r"|filtered).*ivfpq.*"
    )
    assert not [name for name in defs if twin.fullmatch(name)]
    for rel in ("operators/similarity.py", "streaming/runner.py"):
        for node in ast.walk(ast.parse((root / rel).read_text())):
            if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                a = node.args
                params = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                assert not params & {"kind", "index_kind"}, (rel, node.lineno)
