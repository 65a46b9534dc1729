"""Physical-plan quality assertions — the 100 TB invariants.

Correctness says the answer is right; these tests pin the *plan shape*
that keeps each operator viable at 1000× the data: filters pushed into
the parquet scan, columns pruned, small dimensions broadcast, IN-subquery
as a semi-join, top-k as TakeOrderedAndProject, no accidental cartesian
products on the fact-fact paths.
"""

from __future__ import annotations

import pytest

from local_llm_iceberg_cdw_spark.operators.relational import (
    q_flagship_revenue_by_segment,
    q_pricing_summary,
    q_projection_limit,
    q_semi_join_in_subquery,
    q_star_join_revenue_by_nation,
    q_topk_orders,
)

from conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_lines(plan: str, table: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan" in ln and table in ln]


def test_pricing_summary_filter_pushdown(spark):
    plan = plan_of(q_pricing_summary(spark, SF_SMOKE))
    (scan,) = scan_lines(plan, "lineitem")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan, scan


def test_pricing_summary_column_pruning(spark):
    plan = plan_of(q_pricing_summary(spark, SF_SMOKE))
    (scan,) = scan_lines(plan, "lineitem")
    # needs 7 of 11 lineitem columns; join keys must NOT be read
    assert "l_orderkey" not in scan and "l_partkey" not in scan and "l_suppkey" not in scan, scan


def test_projection_limit_reads_three_columns(spark):
    plan = plan_of(q_projection_limit(spark, SF_SMOKE))
    (scan,) = scan_lines(plan, "customer")
    assert "c_acctbal" not in scan and "c_nationkey" not in scan, scan


def test_star_join_broadcasts_dimensions(spark):
    plan = plan_of(q_star_join_revenue_by_nation(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan  # nation & region (+AQE upgrades)
    assert "CartesianProduct" not in plan


def test_semi_join_is_broadcast_left_semi(spark):
    plan = plan_of(q_semi_join_in_subquery(spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_semi_join_prunes_part_scan(spark):
    plan = plan_of(q_semi_join_in_subquery(spark, SF_SMOKE))
    (scan,) = scan_lines(plan, "part.parquet")
    assert "EqualTo(p_type,PROMO)" in scan, scan  # dim filter pushed to scan
    assert "p_retailprice" not in scan and "p_name" not in scan, scan


def test_topk_is_take_ordered(spark):
    plan = plan_of(q_topk_orders(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan  # no global sort


def test_flagship_no_cartesian_and_codegen(spark):
    df = q_flagship_revenue_by_segment(spark, SF_SMOKE)
    df.collect()  # AQE: codegen stages (*(n) markers) appear in the final plan
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "*(" in plan, plan


@pytest.mark.parametrize(
    "builder", [q_pricing_summary, q_flagship_revenue_by_segment, q_star_join_revenue_by_nation]
)
def test_partial_aggregation_before_shuffle(spark, builder):
    """Map-side partial agg must appear below the exchange (HashAggregate
    appears twice: partial + final)."""
    plan = plan_of(builder(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2, plan


def test_partitioned_layout_prunes_scans(spark, tmp_path):
    """The 100 TB layout for event/fact tables: partition by day →
    date-filtered scans read only matching partitions (PartitionFilters,
    not just row-group pushdown)."""
    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.catalog import load_table

    path = str(tmp_path / "events_by_day")
    (
        load_table(spark, SF_SMOKE, "events")
        .withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-15")
    plan = plan_of(df)
    (scan,) = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert "PartitionFilters: [isnotnull(event_date" in scan, scan
    # correctness: matches filtering the unpartitioned table
    n_part = df.count()
    n_plain = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.to_date("ts") == "2024-01-15")
        .count()
    )
    assert n_part == n_plain and n_part > 0


def test_asof_join_single_shuffle(spark):
    """The as-of join's union-and-carry-forward must cost exactly one
    shuffle (the window partitioning) — the property that makes it viable
    where a range join would explode."""
    from local_llm_iceberg_cdw_spark.operators.events import q_asof_join_last_order

    plan = plan_of(q_asof_join_last_order(spark, SF_SMOKE))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    assert "Join" not in plan, plan  # no join operator at all — union + window


# --- extended relational batch (relational_ext.py) -------------------------


def test_exists_lowers_to_semi_join(spark):
    from local_llm_iceberg_cdw_spark.operators.relational_ext import (
        q_order_priority_exists,
    )

    plan = plan_of(q_order_priority_exists(spark, SF_SMOKE))
    assert "LeftSemi" in plan
    # the non-equi residual must ride the semi join, not a separate filter pass
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_disjunctive_filter_single_broadcast_join_no_shuffle_join(spark):
    from local_llm_iceberg_cdw_spark.operators.relational_ext import (
        q_disjunctive_part_filter,
    )

    plan = plan_of(q_disjunctive_part_filter(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan


def test_word_count_partial_agg_before_shuffle(spark):
    from local_llm_iceberg_cdw_spark.operators.relational_ext import q_word_count

    plan = plan_of(q_word_count(spark, SF_SMOKE))
    # map-side combine: partial aggregate must appear below the exchange
    assert plan.index("partial_count") > plan.index("Exchange"), (
        "partial agg should be the child of the shuffle (plans print top-down)"
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_unpivot_is_expand_single_shuffle(spark):
    from local_llm_iceberg_cdw_spark.operators.relational_ext import (
        q_unpivot_returnflag_metrics,
    )

    plan = plan_of(q_unpivot_returnflag_metrics(spark, SF_SMOKE))
    assert "Expand" in plan  # unpivot lowers to Expand, not a union of scans
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_scalar_subquery_is_broadcast_not_collect(spark):
    from local_llm_iceberg_cdw_spark.operators.relational_ext import (
        q_idle_rich_customers,
    )

    plan = plan_of(q_idle_rich_customers(spark, SF_SMOKE))
    # 1-row aggregate joins via broadcast nested loop; anti join stays hash
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


# --- deep TPC-H shapes (tpch_deep.py): the 100 TB plan invariants -----------

def test_q21_single_fact_join_then_agg_joinback(spark):
    from local_llm_iceberg_cdw_spark.operators.tpch_deep import q_waiting_orders_suppliers

    plan = plan_of(q_waiting_orders_suppliers(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # supplier dim broadcast; lineitem⋈orders is the only shuffle-worthy join
    assert "BroadcastHashJoin" in plan, plan
    # the EXISTS/NOT EXISTS pair must NOT become extra scans of lineitem:
    # li is scanned twice (base + per-order agg), never three times
    assert len(scan_lines(plan, "lineitem")) <= 2, plan


def test_q2_broadcasts_all_dimensions(spark):
    from local_llm_iceberg_cdw_spark.operators.tpch_deep import q_min_cost_supplier

    plan = plan_of(q_min_cost_supplier(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan  # supplier, nation, region(+part)


def test_q16_not_in_is_broadcast_anti_join(spark):
    from local_llm_iceberg_cdw_spark.operators.tpch_deep import q_supplier_part_diversity

    plan = plan_of(q_supplier_part_diversity(spark, SF_SMOKE))
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q17_threshold_is_agg_joinback_not_window(spark):
    from local_llm_iceberg_cdw_spark.operators.tpch_deep import q_small_quantity_revenue

    plan = plan_of(q_small_quantity_revenue(spark, SF_SMOKE))
    # correlated AVG must lower to aggregate + join-back, not a full-width
    # window over the fact table
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan


def test_q11_scalar_threshold_is_broadcast_nested_loop(spark):
    from local_llm_iceberg_cdw_spark.operators.tpch_deep import q_part_value_concentration

    plan = plan_of(q_part_value_concentration(spark, SF_SMOKE))
    # 1-row totals side joins via BroadcastNestedLoopJoin — never a collect
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_sequence_packing_sharded_prefix_sum(spark):
    """Concat-and-split packing, round-7 sharded two-phase prefix sum:
    the corpus-row cumsum window is partitioned by (source, _shard) —
    parallelism |sources|×PACK_SHARDS, never one task per source — and
    the only single-partition stages are the bounded scalar bounds
    aggregates (min/max doc_id), never the corpus-row stream."""
    from local_llm_iceberg_cdw_spark.operators.packing import q_sequence_packing

    plan = plan_of(q_sequence_packing(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # the data-stream cumsum window must be sharded, not per-source
    assert "windowspecdefinition(source" in plan, plan
    lines = plan.splitlines()
    cumsum_windows = [
        ln for ln in lines
        if "windowspecdefinition(source" in ln and "doc_id" in ln
    ]
    assert cumsum_windows, plan
    for ln in cumsum_windows:
        assert "_shard" in ln, ln  # sharded — the 100 TB invariant
    # per-source bounds are a keyed aggregate + broadcast join: there is
    # no single-partition stage anywhere in the packing plan
    assert "Exchange SinglePartition" not in plan, plan


def test_prefix_dedup_prunes_and_broadcasts(spark):
    """Only doc_id+text are read; group metadata joins back via hash join,
    never a cartesian."""
    from local_llm_iceberg_cdw_spark.operators.packing import q_prefix_dedup

    plan = plan_of(q_prefix_dedup(spark, SF_SMOKE))
    for scan in scan_lines(plan, "documents"):
        assert "n_chars" not in scan and "lang" not in scan, scan
    assert "CartesianProduct" not in plan


def test_unigram_scoring_is_two_pass(spark):
    """The final plan reads documents ONCE (scoring pass); the vocabulary
    is a checkpointed RDD scan, not a re-derivation (two-pass minimum)."""
    from local_llm_iceberg_cdw_spark.operators.packing import (
        q_unigram_logprob_quality,
    )

    plan = plan_of(q_unigram_logprob_quality(spark, SF_SMOKE))
    assert len(scan_lines(plan, "documents")) == 1, plan
    assert "ExistingRDD" in plan, plan


def test_event_funnel_pushes_type_filters(spark):
    """Each funnel step scans events with the event_type filter pushed to
    parquet; per-user step frames are checkpointed RDDs."""
    from local_llm_iceberg_cdw_spark.operators.analytics import q_event_funnel

    plan = plan_of(q_event_funnel(spark, SF_SMOKE))
    ev_scans = scan_lines(plan, "events")
    assert ev_scans, plan
    for scan in ev_scans:
        assert "EqualTo(event_type," in scan, scan
    assert "ExistingRDD" in plan, plan


def test_pmi_vocabulary_is_broadcast(spark):
    """Both unigram sides of the PMI join broadcast (Zipf-bounded vocab);
    the bigram table never shuffles for the join."""
    from local_llm_iceberg_cdw_spark.operators.analytics import q_bigram_pmi

    plan = plan_of(q_bigram_pmi(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_label_outliers_broadcast_and_group_limit(spark):
    """Centroids broadcast back against the corpus (no shuffle join) and
    the per-label top-k is WindowGroupLimit-pruned before the exchange."""
    from local_llm_iceberg_cdw_spark.operators.similarity import q_label_outliers

    plan = plan_of(q_label_outliers(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_ivf_cell_assignment_is_arrow_matmul(spark):
    """Corpus→cell assignment is one Arrow-batched vectorized stage
    (numpy matmul vs the collected centroid matrix — the FAISS coarse
    quantizer) that also scores the probed pairs: no crossJoin row
    expansion, no aggregate, no join, no shuffle on the corpus side."""
    from local_llm_iceberg_cdw_spark.operators.similarity import ivf_topk_results

    plan = plan_of(ivf_topk_results(spark, SF_SMOKE))
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "max_by" not in plan, plan
    # exactly one window remains: the final per-query top-k
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2, plan


def test_lsh_candidates_shuffle_ids_only(spark):
    """The banded self-join must not carry embedding vectors: no 'embedding'
    column may appear in the band-bucket exchange's schema."""
    from local_llm_iceberg_cdw_spark.operators.similarity import lsh_near_dup_pairs

    plan = plan_of(lsh_near_dup_pairs(spark, SF_SMOKE))
    # the posexplode (Generate) stage feeds the self-join; its output should
    # be id+band+chunk only
    gen_lines = [ln for ln in plan.splitlines() if "Generate posexplode" in ln]
    assert gen_lines, plan
    for ln in gen_lines:
        assert "embedding" not in ln, ln


def test_doc_repetition_ratio_no_shuffle(spark):
    """Intra-doc repetition is embarrassingly parallel: no Exchange beyond
    the small-fixture spread repartition."""
    from local_llm_iceberg_cdw_spark.operators.text import q_doc_repetition_ratio

    plan = plan_of(q_doc_repetition_ratio(spark, SF_SMOKE))
    import re as _re

    exchanges = [ln for ln in plan.splitlines() if _re.search(r"\bExchange\b", ln)]
    # allow only RoundRobin (spread_small_input) exchanges — no hash/range
    for ln in exchanges:
        assert "RoundRobinPartitioning" in ln, ln


def test_token_count_bpe_no_shuffle(spark):
    """BPE estimation is embarrassingly parallel: no Exchange beyond the
    small-fixture spread repartition, and no Python in the plan (the HOF
    fold is interpreted-expression, not a UDF)."""
    from local_llm_iceberg_cdw_spark.operators.text import q_token_count_bpe

    plan = plan_of(q_token_count_bpe(spark, SF_SMOKE))
    import re as _re

    for ln in plan.splitlines():
        if _re.search(r"\bExchange\b", ln):
            assert "RoundRobinPartitioning" in ln, ln
    assert "EvalPython" not in plan, plan


def test_epoch_shuffle_plan_shape(spark):
    """Epoch fan-out is a broadcast cross join (2-row epochs side) and the
    only ordered state is the per-(epoch, bucket) window — exactly one
    window, one hash exchange keyed on it."""
    from local_llm_iceberg_cdw_spark.operators.curation import q_epoch_shuffle_plan

    plan = plan_of(q_epoch_shuffle_plan(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan, plan  # intentional tiny cross join
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1, plan


def test_corpus_pipeline_e2e_no_python_and_fixed_schema(spark):
    """The capstone stays JVM-side end to end and its manifest schema is
    the audited contract."""
    from local_llm_iceberg_cdw_spark.operators.pipeline import q_corpus_pipeline_e2e

    df = q_corpus_pipeline_e2e(spark, SF_SMOKE)
    assert df.columns == [
        "source",
        "n_docs_raw",
        "n_quality_kept",
        "n_after_dedup",
        "n_train",
        "n_contaminated_dropped",
        "n_final",
        "total_tokens",
        "n_packs",
    ]
    plan = plan_of(df)
    assert "EvalPython" not in plan, plan
    rows = df.collect()
    for r in rows:  # stage counts are monotone non-increasing
        assert (
            r.n_docs_raw
            >= r.n_quality_kept
            >= r.n_after_dedup
            >= r.n_train
            >= r.n_final
            >= 0
        )
        assert r.n_contaminated_dropped == r.n_train - r.n_final
        assert r.n_packs <= max(r.n_final, 1)


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """The session enables runtime bloom-filter pruning (session.py); with
    the size thresholds lowered to fixture scale and broadcast disabled, a
    selective orders-side filter must inject a bloom probe into the
    lineitem scan side of the shuffle join."""
    from local_llm_iceberg_cdw_spark.catalog import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1"
        )
        orders = load_table(spark, SF_SMOKE, "orders").filter("o_orderpriority = '1-URGENT'")
        lineitem = load_table(spark, SF_SMOKE, "lineitem")
        joined = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        plan = plan_of(joined)
        assert "bloom_filter" in plan, plan  # bloom_filter_agg + might_contain probe
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_segment_dedup_two_shuffles_and_group_limit(spark):
    """Keep-first runs as (seg window → doc_id rebuild): exactly two hash
    exchanges, WindowGroupLimit pushes rank<=1 map-side, and the rebuild
    joins back to documents via broadcast — no sort-merge join."""
    from local_llm_iceberg_cdw_spark.operators.dedup import q_segment_dedup_rewrite

    plan = plan_of(q_segment_dedup_rewrite(spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_merge_single_shuffle(spark):
    """Pair counting is one map-side-combined aggregate; the global
    top-N window runs over the bounded (≤|Σ|²-row) count table, adding
    no extra hash exchange over the corpus."""
    from local_llm_iceberg_cdw_spark.operators.text import q_bpe_merge_step

    plan = plan_of(q_bpe_merge_step(spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.index("partial_count") > plan.index("Exchange"), plan


def test_hard_negative_mining_broadcast_and_group_limit(spark):
    """Same plan as the exact top-k: queries ride a broadcast variable
    into one Arrow pass over the corpus (no join), then one window
    shuffle with WindowGroupLimit."""
    from local_llm_iceberg_cdw_spark.operators.similarity import q_hard_negative_mining

    plan = plan_of(q_hard_negative_mining(spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "MapInPandas" in plan and "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_zorder_locality_bounds_broadcast(spark):
    """The dimension bounds enter as a broadcast 1-row aggregate; the
    envelope rollup is the only hash exchange."""
    from local_llm_iceberg_cdw_spark.operators.layout import q_zorder_locality

    plan = plan_of(q_zorder_locality(spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_event_enrichment_broadcasts_dim_no_smj(spark):
    """Stream-static twin shape: the customer dim rides a broadcast; the
    fact side never sort-merge joins (two hash exchanges = the
    count_distinct two-phase aggregate, not a join shuffle)."""
    from local_llm_iceberg_cdw_spark.operators.events import q_event_segment_enrichment

    plan = plan_of(q_event_segment_enrichment(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_frame_sample_is_pure_narrow(spark):
    """Frame sampling is one row-expanding Arrow stage: zero exchanges —
    the shape that subsamples 100 TB of video in a single map."""
    from local_llm_iceberg_cdw_spark.operators.multimodal import q_media_frame_sample

    plan = plan_of(q_media_frame_sample(spark, SF_SMOKE))
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan


def test_curriculum_windowless_two_phase_rank(spark):
    """Round-7 shape: exact NTILE arithmetic over a two-phase global rank
    (range partition + per-partition row_number + broadcast offsets) —
    NO global ntile / unpartitioned window anywhere, and the only
    single-partition stage is the 1-row n_total count."""
    from local_llm_iceberg_cdw_spark.operators.packing import q_curriculum_stages

    plan = plan_of(q_curriculum_stages(spark, SF_SMOKE))
    assert "ntile" not in plan, plan
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    # every window is partitioned (the rank window by _pid) — no
    # single-partition sort of the scored table
    for ln in lines:
        if "windowspecdefinition(" in ln:
            assert "_pid" in ln, ln
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "partial_count" in below, plan


def test_semantic_dedup_grouped_kernel_single_shuffle(spark):
    """SemDeDup = one narrow assignment stage + ONE cluster-keyed shuffle
    into the grouped pairwise kernel; no join of vector copies."""
    from local_llm_iceberg_cdw_spark.operators.similarity import q_semantic_dedup

    plan = plan_of(q_semantic_dedup(spark, SF_SMOKE))
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_bloom_decontamination_probe_is_narrow(spark):
    """The corpus-sized train side is probed by the Bloom bitset in ONE
    Arrow stage with no explode and no join, and the probe runs exactly
    once: its flagged-id output is an eager localCheckpoint, so the
    final plan reads the tiny checkpointed RDD instead of re-evaluating
    the UDF per consumer.  The verify confines the gram explode to the
    flagged subset via a broadcast semi-join; documents scans are pruned
    to the 3 needed columns."""
    from local_llm_iceberg_cdw_spark.operators.corpus import (
        DECONTAM_NGRAM_N,
        _bloom_probe_udf,
        _build_bloom,
        _gram_array,
        q_bloom_decontamination,
    )
    from local_llm_iceberg_cdw_spark.catalog import load_table
    from pyspark.sql import functions as F

    # the probe stage itself (pre-checkpoint): one Arrow eval, no
    # explode, no join, no exchange below it
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    bits, m = _build_bloom([1, 2, 3])
    gh = F.transform(_gram_array(F.col("text"), DECONTAM_NGRAM_N), lambda g: F.xxhash64(g))
    # NB: keep only doc_id after the filter — projecting the flag too
    # would evaluate the UDF twice (Filter + Project don't share it)
    probe_plan = plan_of(
        docs.select("doc_id", _bloom_probe_udf(spark, bits, m)(gh).alias("hit"))
        .filter("hit")
        .select("doc_id")
    )
    assert probe_plan.count("ArrowEvalPython") == 1, probe_plan
    assert "Generate explode" not in probe_plan and "Join" not in probe_plan, probe_plan
    assert "Exchange hashpartitioning" not in probe_plan, probe_plan

    # the bitset ships as a broadcast VARIABLE, not closure capture: the
    # pickled task closure must stay tiny against a multi-hundred-KB
    # bitset (a GB-scale eval suite would otherwise re-serialize it into
    # every task binary)
    import numpy as np
    from pyspark.serializers import CloudPickleSerializer

    big_bits, big_m = _build_bloom(list(range(200_000)))
    assert big_bits.nbytes >= 256 * 1024, big_bits.nbytes
    big_probe = _bloom_probe_udf(spark, big_bits, big_m)
    closure = CloudPickleSerializer().dumps(big_probe.func)
    assert len(closure) < 64 * 1024, f"closure is {len(closure)} bytes"
    # and the broadcast handle still resolves to the same bitset
    docs_hit = docs.select(big_probe(gh).alias("hit")).limit(1).collect()
    assert docs_hit[0].hit in (True, False)

    # the full op: probe pre-materialized (checkpoint scan), flagged
    # subset broadcast-semi-joined into the exact verify
    plan = plan_of(q_bloom_decontamination(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan, plan  # probe ran once, at build
    assert "ExistingRDD" in plan, plan  # the checkpointed flagged ids
    assert plan.count("LeftSemi") >= 2, plan  # flagged prune + exact verify
    assert "BroadcastHashJoin" in plan, plan
    for scan in scan_lines(plan, "documents"):
        assert "n_chars" not in scan and "lang" not in scan, scan


def test_bigram_lm_unigram_joins_broadcast(spark):
    """The two Zipf-bounded unigram joins broadcast; the corpus-sized
    bigram stream never rides a cartesian.  The bigram-count join may
    shuffle (its table is corpus-derived) — that is the intended plan."""
    from local_llm_iceberg_cdw_spark.operators.packing import q_bigram_logprob_quality

    plan = plan_of(q_bigram_logprob_quality(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan  # up + uw
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row total scalar


def test_dsir_scoring_join_broadcasts_weight_table(spark):
    """The 4096-bucket weight table broadcasts to the token stream; the
    totals attach as a broadcast 1-row scalar; the corpus never rides a
    real cartesian.  documents scans read only doc_id + text."""
    from local_llm_iceberg_cdw_spark.operators.curation import (
        q_dsir_importance_weights,
    )

    plan = plan_of(q_dsir_importance_weights(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan  # scoring join must broadcast
    assert plan.count("BroadcastHashJoin") == 1, plan
    for scan in scan_lines(plan, "documents"):
        assert "n_chars" not in scan and "lang" not in scan, scan


def test_gopher_rules_shuffle_free(spark):
    """All five Gopher signals evaluate in ONE narrow projection over the
    token array — no data-dependent exchange (the only allowed one is
    spread_small_input's round-robin file spread), no Python, one split
    pass."""
    from local_llm_iceberg_cdw_spark.operators.text import q_gopher_quality_rules

    plan = plan_of(q_gopher_quality_rules(spark, SF_SMOKE))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert plan.count("Generate explode") <= 1, plan


def test_cms_topk_take_ordered_and_probe_broadcast(spark):
    """The heavy-hitter head resolves as TakeOrderedAndProject (never a
    global sort of the vocabulary); the 20xd candidate probes broadcast
    into the sketch join; the only cartesian is the 1-row total scalar."""
    from local_llm_iceberg_cdw_spark.operators.curation import q_cms_heavy_hitters

    plan = plan_of(q_cms_heavy_hitters(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_ppjoin_prefix_filter_bounds_candidates(spark):
    """The exact similarity join must never ride an n² path: candidates
    come from the prefix self-join (hash equi-join on the shingle key),
    the verify fetches set arrays for candidate pairs only, and the
    whole plan is cartesian-free."""
    from local_llm_iceberg_cdw_spark.operators.dedup import q_ppjoin_set_similarity

    plan = plan_of(q_ppjoin_set_similarity(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate generation + two verify fetches are all hash equi-joins
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan
    # the sets relation is the checkpointed RDD, scanned (not rebuilt)
    assert "ExistingRDD" in plan, plan


def test_weighted_sample_window_group_limit(spark):
    """The per-source ES top-k must push rank <= k map-side
    (WindowGroupLimit) and never sort globally before the window."""
    from local_llm_iceberg_cdw_spark.operators.curation import q_weighted_sample_es

    plan = plan_of(q_weighted_sample_es(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan and "Join" not in plan, plan


def test_pagerank_result_is_topk_over_checkpointed_ranks(spark):
    """The returned frame must read the LAST superstep's checkpoint and
    reduce to a TakeOrdered top-k — no join, no cartesian.  (The
    per-superstep broadcast of the node-dimension rank/degree tables is
    asserted by construction: the builder wraps them in F.broadcast —
    see q_pagerank_supplier_part — and each superstep's plan is consumed
    at checkpoint time.)"""
    from local_llm_iceberg_cdw_spark.operators.analytics import (
        q_pagerank_supplier_part,
    )

    plan = plan_of(q_pagerank_supplier_part(spark, SF_SMOKE))
    # the returned frame reads the LAST superstep's checkpoint: top-k
    # only — no join, no cartesian, TakeOrdered on dimension-sized ranks
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pagerank_broadcast_threshold_switches_to_shuffle_join(spark, monkeypatch):
    """The broadcast-vs-shuffle choice is a real size threshold on the
    driver-held node count: below it the superstep broadcasts rank/deg
    (narrow pass over edges), above it the hints drop and the superstep
    joins without a broadcast hint — same values either way."""
    from local_llm_iceberg_cdw_spark.operators import analytics

    baseline = analytics.q_pagerank_supplier_part(spark, SF_SMOKE).collect()
    monkeypatch.setattr(analytics, "PAGERANK_BROADCAST_MAX_BYTES", 0)
    shuffled = analytics.q_pagerank_supplier_part(spark, SF_SMOKE).collect()
    assert shuffled == baseline


def test_trend_seasonality_no_window_no_collect_shapes(spark):
    """The OLS fit is five scalar aggregates + a broadcast 1-row model —
    no window function, no cartesian other than the broadcast scalar,
    and the series base is checkpointed (fit + residual share it)."""
    from local_llm_iceberg_cdw_spark.operators.analytics import (
        q_trend_seasonality_decompose,
    )

    plan = plan_of(q_trend_seasonality_decompose(spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row fit attach
    assert "ExistingRDD" in plan, plan  # checkpointed daily series


def test_bm25_single_tokenize_pass_and_topk(spark):
    """BM25: the corpus text is tokenized once (the narrow (doc_id, dl,
    qtoks) projection is an eager checkpoint feeding tf/df/stats), the
    df and stats tables attach as broadcasts, and the result is a
    TakeOrdered top-k — no sort-merge join, no cartesian, no Python."""
    from local_llm_iceberg_cdw_spark.operators.text import q_bm25_topk

    plan = plan_of(q_bm25_topk(spark, SF_SMOKE))
    assert "ExistingRDD" in plan, plan  # the checkpointed base
    assert "FileScan" not in plan, plan  # no consumer re-reads the corpus
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # term-dim df attach
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row N/avgdl scalar
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_source_vocab_overlap_dimension_joins(spark):
    """Vocabulary overlap: the (source, term) distinct is checkpointed
    (sizes + pair join share one tokenize/distinct pass), per-source
    sizes attach as broadcasts, and no cartesian appears — the pair
    space comes from the term-keyed equi-join only."""
    from local_llm_iceberg_cdw_spark.operators.text import q_source_vocab_overlap

    plan = plan_of(q_source_vocab_overlap(spark, SF_SMOKE))
    assert "ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan  # the two sizes attaches
    assert "Python" not in plan, plan


def test_hybrid_rrf_fuses_bounded_shortlists(spark):
    """RRF hybrid: each ranker reduces to a TakeOrdered shortlist before
    fusion, so the rank windows run over <=25 rows; the fusion itself is
    a join of two shortlist frames — no corpus-wide global sort (a
    rangepartitioning exchange on the corpus would be the scale-killer),
    no cartesian beyond the 1-row broadcast query vector."""
    from local_llm_iceberg_cdw_spark.operators.text import q_hybrid_rrf_search

    plan = plan_of(q_hybrid_rrf_search(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "FullOuter" in plan, plan


def test_gapfill_spine_is_bounded_and_jvm_side(spark):
    """Gap-fill: the calendar spine generates JVM-side (Generate over
    sequence(), no Python, no driver round-trip); the daily aggregate is
    the only fact-scale shuffle; the unpartitioned LOCF window sorts the
    calendar-bounded spine, not the input (safe by construction)."""
    from local_llm_iceberg_cdw_spark.operators.timeseries import (
        q_daily_revenue_gapfill,
    )

    plan = plan_of(q_daily_revenue_gapfill(spark, SF_SMOKE))
    assert "Generate explode" in plan, plan  # sequence() spine, JVM-side
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_word_entropy_is_two_aggregations_no_join(spark):
    """Entropy: explode -> (doc,word) agg -> doc agg; entropy state is 3
    scalars per doc (never a vocabulary vector), no join, no window, no
    Python boundary."""
    from local_llm_iceberg_cdw_spark.operators.text import q_word_entropy_quality

    plan = plan_of(q_word_entropy_quality(spark, SF_SMOKE))
    assert "Generate explode" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan


def test_salted_agg_spreads_then_merges(spark):
    """Salted hot-key agg: stage 1 shuffles on (l_returnflag, salt) —
    the 16-way spread of each hot key — stage 2 on the bare flag; the
    salt never reaches the output schema."""
    from local_llm_iceberg_cdw_spark.operators.relational_ext import (
        q_salted_hot_key_agg,
    )

    df = q_salted_hot_key_agg(spark, SF_SMOKE)
    assert "salt" not in df.columns
    plan = plan_of(df)
    # the salt expression shows up as `_groupingexpression` in the
    # physical plan (it is dropped before the output schema)
    salted = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "_groupingexpression" in ln
    ]
    bare = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and "l_returnflag" in ln
        and "_groupingexpression" not in ln
    ]
    assert salted and bare, plan
    assert "Python" not in plan, plan


def test_length_bucket_stats_is_shuffle_light(spark):
    """Length buckets: the CASE ladder + size(split()) are pure codegen
    projections (no explode — token counting never materializes the
    token array per row beyond one expression), one map-side-combined
    aggregation over <= |ladder| groups."""
    from local_llm_iceberg_cdw_spark.operators.packing import q_length_bucket_stats

    plan = plan_of(q_length_bucket_stats(spark, SF_SMOKE))
    assert "Generate explode" not in plan, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_customer_order_percentile_partitions_on_high_cardinality_key(spark):
    """percent_rank/cume_dist window: one hashpartitioning exchange on
    c_custkey (high-cardinality -> parallel per-partition sorts), no
    global rangepartitioning sort, no Python."""
    from local_llm_iceberg_cdw_spark.operators.relational_ext import (
        q_customer_order_percentile,
    )

    plan = plan_of(q_customer_order_percentile(spark, SF_SMOKE))
    assert "Window" in plan, plan
    assert "Exchange hashpartitioning(o_custkey" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Python" not in plan, plan


def test_robust_outliers_broadcasts_group_stats(spark):
    """Median/MAD audit: the per-segment stats tables attach as
    broadcasts (<= |segments| rows) — the fact table is never
    shuffle-joined against them."""
    from local_llm_iceberg_cdw_spark.operators.relational_ext import (
        q_robust_outliers_mad,
    )

    plan = plan_of(q_robust_outliers_mad(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_salted_skew_join_spreads_hot_keys(spark):
    """Salted replicate join: the join must be a shuffled join keyed on
    (user_id, salt) — not a broadcast (which would moot the salt) — and
    the salt must not reach the output schema."""
    from local_llm_iceberg_cdw_spark.operators.events import q_salted_skew_join

    df = q_salted_skew_join(spark, SF_SMOKE)
    assert "_salt" not in df.columns
    plan = plan_of(df)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    joins = [ln for ln in plan.splitlines() if "ShuffledHashJoin" in ln or "SortMergeJoin" in ln]
    assert any("_salt" in ln for ln in joins), plan
    assert "CartesianProduct" not in plan, plan


def test_bucketed_join_has_no_exchange_before_the_join(spark, tmp_path):
    """The bucketing payoff: both sides written bucketBy(8, custkey) +
    sortBy, so the sort-merge join consumes on-disk bucketing — the join
    subtree must contain NO exchange and NO sort (the shuffle was paid
    once at write time).  The only exchange allowed in the whole plan is
    the downstream groupBy's."""
    from local_llm_iceberg_cdw_spark.operators.layout import (
        build_bucketed_join,
        drop_bucketed_join_tables,
    )

    try:
        df = build_bucketed_join(spark, SF_SMOKE, str(tmp_path / "bj"))
        plan = plan_of(df)
        assert "SortMergeJoin" in plan, plan
        join_subtree = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_subtree, plan
        # residual sorts inside the join must all be LOCAL (", false, 0"
        # = non-global): Spark trusts bucket-sort metadata only behind
        # the legacy outputOrdering flag, but a local in-partition sort
        # moves no data — the no-shuffle claim is what scales
        for ln in join_subtree.splitlines():
            if "Sort [" in ln:
                assert ", false, 0" in ln, plan
        assert "Bucketed: true" in plan, plan
    finally:
        drop_bucketed_join_tables(spark)


def test_dup_span_coverage_shuffles_digests_not_grams(spark):
    """Duplicated-span audit: gram occurrences ride as xxhash64 digests
    (the gram string must not appear as a shuffle key), the interval
    union is a window over shared starts, and nothing is cartesian or
    Python-side."""
    from local_llm_iceberg_cdw_spark.operators.dedup import q_dup_span_coverage

    plan = plan_of(q_dup_span_coverage(spark, SF_SMOKE))
    assert "xxhash64" in plan, plan  # digest keys in the gram stream
    assert "Window" in plan, plan  # per-doc interval union
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    # the tokenized base is an eager checkpoint feeding grams + rollup:
    # no consumer re-reads (and re-tokenizes) the corpus
    assert "ExistingRDD" in plan and "FileScan" not in plan, plan


def test_zipf_fit_bounds_the_rank_head_map_side(spark):
    """Zipf fit: the per-source rank head must be a WindowGroupLimit
    (rank <= R partially evaluated map-side, no full per-source sort of
    the term table reaching the reducer), and the OLS moments are plain
    aggregates — no cartesian, no Python."""
    from local_llm_iceberg_cdw_spark.operators.text import q_zipf_slope_fit

    plan = plan_of(q_zipf_slope_fit(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_triangle_census_joins_the_pruned_edge_list(spark):
    """Triangle census: the support-thresholded edge list is an eager
    checkpoint (the raw lineitem pair join runs ONCE — no consumer
    re-reads the fact table), the wedge/closure self-joins key on edge
    endpoints (equi-joins, never cartesian), and the three 1-row scalars
    attach as broadcasts."""
    from local_llm_iceberg_cdw_spark.operators.analytics import (
        q_copurchase_triangles,
    )

    plan = plan_of(q_copurchase_triangles(spark, SF_SMOKE))
    assert "ExistingRDD" in plan and "FileScan" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row scalar attach
    assert "Python" not in plan, plan


def test_nb_classifier_broadcasts_the_model_grid(spark):
    """Naive Bayes: the labeled/tokenized base and the (label, term)
    count table are eager checkpoints (corpus tokenized once, training
    explode aggregated once), the model grid and class dims attach as
    broadcasts (BHJ for the term-keyed model, BNLJ for the 1-row
    scalars), scoring never sort-merges, and the whole plan is
    Python-free."""
    from local_llm_iceberg_cdw_spark.operators.curation import (
        q_nb_lang_classifier,
    )

    plan = plan_of(q_nb_lang_classifier(spark, SF_SMOKE))
    assert "ExistingRDD" in plan and "FileScan" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # term-keyed model attach
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row scalar attach
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_semantic_decontamination_broadcasts_the_holdout(spark):
    """The bounded test holdout rides a broadcast variable into one
    Arrow pass over train that keeps each train row's argmax — no join
    (so never a CartesianProduct), no exchange before the final order."""
    from local_llm_iceberg_cdw_spark.operators.similarity import (
        q_semantic_decontamination,
    )

    plan = plan_of(q_semantic_decontamination(spark, SF_SMOKE))
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") == 1, plan  # the final rangepartitioning


def test_record_linkage_blocking_is_an_equi_join(spark):
    """The blocking key must reach the join as EQUI keys: the plan
    contains a keyed join (hash or sort-merge) on (nation, bucket) and
    no cartesian/broadcast-nested-loop — the whole point of blocking is
    that Catalyst never sees an unkeyed pair space."""
    from local_llm_iceberg_cdw_spark.operators.dedup import (
        q_record_linkage_blocked,
    )

    plan = plan_of(q_record_linkage_blocked(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan
    assert "Python" not in plan, plan


def test_table_profile_scans_orders_exactly_once(spark):
    """The unpivot-then-aggregate profile reads the table ONE time for
    all six columns (the per-column-aggregate alternative scans once
    per distinct set via Expand — the approx_distinct r11 lesson)."""
    from local_llm_iceberg_cdw_spark.operators.relational_ext import (
        q_table_profile_orders,
    )

    plan = plan_of(q_table_profile_orders(spark, SF_SMOKE))
    assert len(scan_lines(plan, "orders")) == 1, plan
    assert "Python" not in plan, plan


def test_containment_and_novelty_shuffle_digests_not_strings(spark):
    """Both gram-keyed ops ride 8-byte xxhash64 digests through their
    joins/aggregations — no CartesianProduct, no Python, and the plans
    carry the digest column (gh), never a raw gram string column."""
    from local_llm_iceberg_cdw_spark.operators.curation import (
        q_ngram_novelty_curve,
    )
    from local_llm_iceberg_cdw_spark.operators.dedup import q_containment_dedup

    for builder in (q_containment_dedup, q_ngram_novelty_curve):
        plan = plan_of(builder(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan
        assert "xxhash64" in plan or "gh" in plan, plan


def test_dhash_near_dup_is_lsh_not_allpairs(spark):
    """The dHash pair generator must plan the band-bucket EQUI-join —
    never a cartesian/nested-loop pair expansion (the LSH claim)."""
    from local_llm_iceberg_cdw_spark.operators.multimodal import (
        q_media_dhash_near_dup,
    )

    plan = plan_of(q_media_dhash_near_dup(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_silence_window_is_per_doc(spark):
    """The islands window must partition by doc_id (state bounded by one
    payload's frames), not run unpartitioned over all frames."""
    from local_llm_iceberg_cdw_spark.operators.multimodal import (
        q_media_silence_segments,
    )

    plan = plan_of(q_media_silence_segments(spark, SF_SMOKE))
    import re

    w = [ln for ln in plan.splitlines() if "Window" in ln and "row_number" in ln]
    assert w and all("doc_id" in ln for ln in w), w


def test_graph_ops_no_cartesian(spark):
    """k-core and local clustering coefficient must stay on keyed joins:
    the wedge/anti joins are all equi-keyed, so any CartesianProduct or
    BroadcastNestedLoopJoin means a join condition got lost."""
    from local_llm_iceberg_cdw_spark.operators.analytics import (
        q_k_core_decomposition,
        q_khop_reachability,
        q_local_clustering_coefficient,
    )

    for q in (q_k_core_decomposition, q_local_clustering_coefficient, q_khop_reachability):
        plan = plan_of(q(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_stats_pruned_scan_reads_one_file(spark, tmp_path):
    """The pruned read's FileScan must reference exactly the planned file
    subset — file skipping happens at plan time, not as a runtime filter."""
    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(i,) for i in range(10)], "k int").coalesce(1))
    t.append(spark.createDataFrame([(i,) for i in range(100, 110)], "k int").coalesce(1))
    df, n_read, n_total = t.read_pruned([("k", ">=", 100)])
    assert (n_read, n_total) == (1, 2)
    plan = plan_of(df)
    (scan,) = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert "InMemoryFileIndex(1 paths)" in scan, scan
    files = df.inputFiles()
    assert len(files) == 1 and "data-snap-000002" in files[0], files
    # the residual filter still pushes down into the surviving file
    assert "GreaterThanOrEqual(k,100)" in scan, scan
