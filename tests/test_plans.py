"""Physical-plan contract tests: the scale properties each operator promises
(pushdown, pruning, broadcast, single-shuffle) hold in the actual plan."""

from __future__ import annotations

import pytest

from flink_adcom_spark.plans import explain
from flink_adcom_spark.registry import get


def test_tpch_q1_scan_pruned_and_filter_pushed(spark, sf_dir):
    df = get("q08_tpch_q1").build(spark, sf_dir)
    cols = explain.scan_columns(df)
    # 7 needed columns only — never the full 11-column row
    assert set(cols) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }
    assert any("l_shipdate" in f for f in explain.pushed_filters(df))


def test_tpch_q6_filters_pushed(spark, sf_dir):
    df = get("q09_tpch_q6").build(spark, sf_dir)
    pushed = " ".join(explain.pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert set(explain.scan_columns(df)) == {
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
        "l_quantity",
    }


def test_join_query_broadcasts_dimensions(spark, sf_dir):
    df = get("q14_revenue_by_nation").build(spark, sf_dir)
    assert explain.has_broadcast_join(df)
    # fact side never shuffles before aggregation: the only hash exchange is
    # the final groupBy(nation)
    assert explain.num_exchanges(df) == 1


def test_keyed_agg_single_shuffle_with_partial(spark, sf_dir):
    df = get("q01_ride_count").build(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "partial_count" in plan
    # the ordering-aware helper: partial agg genuinely precedes the exchange
    assert explain.has_partial_aggregate(df)
    assert explain.num_exchanges(df) == 1


def test_topn_plans_take_ordered(spark, sf_dir):
    df = get("q07_top10_distances").build(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain.simple_plan(df)


def test_events_scan_prunes_props(spark, sf_dir):
    """The wide props column must never be read by queries that don't use it."""
    df = get("q01_ride_count").build(spark, sf_dir)
    cols = explain.scan_columns(df)
    assert "props" not in cols and "value" not in cols


def test_wordcount_partial_agg_before_shuffle(spark, sf_dir):
    df = get("q10_wordcount").build(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "partial_count" in plan


def test_tpch_q5_fact_never_shuffles_before_agg(spark, sf_dir):
    """q18: every join is broadcast locally, so lineitem reaches the partial
    aggregate without an exchange; the only shuffle carries 25 nation keys.
    The orders scan gets the o_orderdate window pushed down."""
    df = get("q18_tpch_q5_local_suppliers").build(spark, sf_dir)
    assert explain.has_broadcast_join(df)
    assert explain.num_exchanges(df) == 1, explain.formatted_plan(df)
    pushed = " ".join(explain.pushed_filters(df))
    assert "o_orderdate" in pushed and "r_name" in pushed


def test_tpch_q4_semi_join_and_window_pushdown(spark, sf_dir):
    """q19: the EXISTS plans as a semi join (each order emitted at most
    once, never multiplied by its lineitems) with the date window at the
    orders scan."""
    df = get("q19_tpch_q4_order_priority").build(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert any("o_orderdate" in f for f in explain.pushed_filters(df))


def test_promo_share_prunes_and_pushes(spark, sf_dir):
    """q19b: lineitem scan reads 4 columns with the shipdate window pushed;
    part joins broadcast-side."""
    df = get("q19b_tpch_q14_promo_share").build(spark, sf_dir)
    assert explain.has_broadcast_join(df)
    assert set(explain.scan_columns(df)) >= {"l_partkey", "l_extendedprice", "l_discount"}
    assert any("l_shipdate" in f for f in explain.pushed_filters(df))


def test_deterministic_sample_filter_pushed(spark, sf_dir):
    """q38: the hash-sampling predicate evaluates at the scan (no full
    materialization of the unsampled table past the source)."""
    df = get("q38_deterministic_sample").build(spark, sf_dir)
    assert explain.num_exchanges(df) == 0, explain.formatted_plan(df)
    assert set(explain.scan_columns(df)) == {"doc_id", "lang", "n_chars"}


def test_repetition_ratio_zero_shuffle(spark, sf_dir):
    # per-doc quality signals must stay scan-side: one narrow projection,
    # no explode fan-out, no exchange anywhere in the plan
    df = get("q37_repetition_ratio").build(spark, sf_dir)
    assert explain.num_exchanges(df) == 0
    assert set(explain.scan_columns(df)) == {"doc_id", "text"}


def test_contamination_prunes_scan(spark, sf_dir):
    df = get("q48_contamination").build(spark, sf_dir)
    assert set(explain.scan_columns(df)) == {"doc_id", "text"}
    # scan-side per-doc dedupe: only the (small) benchmark vocabulary and
    # the final per-doc agg shuffle; the full corpus never distinct-shuffles
    assert explain.num_exchanges(df) <= 2


def test_simhash_neardup_is_equijoin_not_nested_loop(spark, sf_dir):
    """q44's hamming-ball pair generation must plan as a hash EQUI-join on
    (chunk_idx, chunk_val) — never the O(N^2) nested-loop/cartesian form the
    naive doc_a < doc_b theta join produces."""
    df = get("q44_simhash_neardup").build(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_clusters_inherit_banded_edges(spark, sf_dir):
    """q45 consumes q44's banded edge generation: the full pipeline plan must
    stay nested-loop-free too."""
    df = get("q45_dedup_clusters").build(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


import contextlib


@contextlib.contextmanager
def _broadcast_disabled(spark):
    """Set both broadcast thresholds to -1 and restore them afterwards —
    the one place the conf juggling lives for every degradation test."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_degrades_to_sort_merge_without_broadcast(spark, sf_dir):
    """With broadcast disabled (both planning-time and AQE thresholds), the
    un-hinted joins in q14 must fall back to shuffle joins — the 100 TB
    behavior when dimensions outgrow the broadcast threshold — and produce
    IDENTICAL rows. The nation side stays broadcast because the query hints
    it explicitly (fixed-size at any SF)."""
    from flink_adcom_spark.registry import get

    def rows():
        df = get("q14_revenue_by_nation").build(spark, sf_dir)
        return sorted(map(tuple, df.collect()))

    want = rows()
    with _broadcast_disabled(spark):
        df = get("q14_revenue_by_nation").build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = sorted(map(tuple, df.collect()))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:2000]
    assert got == want


@pytest.mark.parametrize(
    "name",
    [
        "q121_tpch_q2_min_cost_supplier",
        "q124_tpch_q16_supplier_count",
        "q126_tpch_q21_waiting_suppliers",
        "q135_bitext_mining",
        "q142_referential_integrity",
        "q145_ship_latency_quantiles",
    ],
)
def test_new_joins_survive_broadcast_disable(spark, sf_dir, name):
    """Join-strategy independence for the round-5 join queries: with both
    broadcast thresholds at -1 (what AQE decides when every dimension has
    outgrown the threshold at 100 TB), the result set must be identical.
    Explicitly-hinted broadcasts still apply; the point is that correctness
    never depends on which physical join the planner picked."""
    def rows():
        return sorted(map(tuple, get(name).build(spark, sf_dir).collect()))

    want = rows()
    with _broadcast_disabled(spark):
        got = rows()
    assert got == want
    assert want, f"{name}: empty result proves nothing"


@pytest.mark.parametrize(
    "name,min_bhj",
    [
        # r5 bench watchlist (q92/q99 drifted +20% r4->r5): pin the join
        # strategies the timing baseline was recorded against, so a silent
        # broadcast-threshold flip shows up as a test failure instead of an
        # unexplained bench regression. Exact counts are SF-dependent (the
        # SF-scaled sides flip between broadcast and shuffle with data
        # size), so the pin is a floor: every fixed-size dimension must
        # broadcast, and nothing may plan a nested-loop join.
        ("q92_tpch_q17_small_qty", 2),
        ("q93_tpch_q18_large_orders", 2),
        ("q99_tpch_q8_market_share", 7),
    ],
)
def test_watchlist_join_strategy_pinned(spark, sf_dir, name, min_bhj):
    df = get(name).build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= min_bhj, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q88_candidate_dedup_is_narrow(spark, sf_dir):
    """The multiprobe pair-dedup shuffle must carry ONLY the two id columns —
    re-attaching the vector payload before the DISTINCT re-creates the
    candidates-x-dim shuffle the q88 restructure removed (SCALING.md r6
    note: 3.1s -> 2.0s at sf0.1)."""
    import re

    df = get("q88_embed_neardup_multiprobe").build(spark, sf_dir)
    plan = explain.formatted_plan(df)
    m = re.search(
        r"Exchange\nInput \[2\]: \[vec_a#\d+L?, vec_b#\d+L?\]\n"
        r"Arguments: hashpartitioning\(vec_a",
        plan,
    )
    assert m, "no narrow (vec_a, vec_b)-only dedup exchange found:\n" + plan[:3000]
    # and the vector payload must never ride through ANY exchange
    for block in plan.split("\n\n"):
        if block.startswith("(") and ") Exchange" in block.split("\n")[0]:
            assert "va#" not in block and "vb#" not in block, block


def test_pagerank_iteration_edge_side_shuffle_free_when_bucketed(spark):
    """q150's docstring names the production plan: pre-partition the edge
    list on src so the per-iteration join never reshuffles the (100 TB)
    edge side — only the O(|V|) rank/contribution data moves. Prove it with
    q118's bucketing machinery: one full PageRank iteration (out-weight
    join + rank join + groupBy(dst) contribution sum) over a bucketed edge
    table must plan EXACTLY ONE exchange (the inherent dst re-key), while
    the identical pipeline over a plain parquet layout shuffles the edge
    side too."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from flink_adcom_spark.operators.storage import write_bucketed

    for row in spark.sql("SHOW DATABASES LIKE 'prtest_*'").collect():
        spark.sql(f"DROP DATABASE IF EXISTS {row[0]} CASCADE")
    db = f"prtest_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="prtest_wh_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    edges = spark.range(0, 4000).selectExpr(
        "id % 200 AS src", "(id * 7 + 3) % 200 AS dst", "CAST(1 AS DOUBLE) AS w"
    )
    write_bucketed(edges, f"{db}.edges_b", ["src"], num_buckets=8)
    plain = tempfile.mkdtemp(prefix="prtest_pq_")
    edges.write.mode("overwrite").parquet(plain)

    def iteration(e):
        ws = e.groupBy("src").agg(F.sum("w").alias("wsum"))
        r = ws.select("src", F.lit(0.005).alias("rank"))
        contrib = (
            e.join(ws, "src")
            .join(r, "src")
            .select("dst", (F.col("rank") * F.col("w") / F.col("wsum")).alias("c"))
        )
        return contrib.groupBy("dst").agg(F.sum("c").alias("rank"))

    with _broadcast_disabled(spark):
        bucketed_n = explain.num_exchanges(iteration(spark.table(f"{db}.edges_b")))
        plain_n = explain.num_exchanges(iteration(spark.read.parquet(plain)))
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    # bucketed: out-weight agg and both joins ride the bucket partitioning;
    # the ONLY exchange is the groupBy(dst) re-key every PageRank must pay
    assert bucketed_n == 1, f"bucketed iteration planned {bucketed_n} exchanges"
    assert plain_n > bucketed_n, (
        f"plain layout planned {plain_n} exchanges, expected more than the "
        f"bucketed {bucketed_n} — the co-partitioning contrast is gone"
    )


def test_cdc_chunks_single_exchange(spark, sf_dir):
    """q158's contract: the lag window, cumulative boundary count, and
    chunk rollup all ride ONE doc_id exchange (grouping keys are a
    superset of the window partitioning), with the boundary md5 inside
    whole-stage codegen — the measured 200x win over the zero-shuffle
    interpreted-HOF form (PLANS.md)."""
    df = get("q158_cdc_chunks").build(spark, sf_dir)
    assert explain.num_exchanges(df) == 1, explain.formatted_plan(df)[:2000]
    # the boundary md5 must sit inside a codegen span: the row-based form
    # has no higher-order functions anywhere (interpreted lambda evaluation
    # was the 200x regression), except the digest's per-GROUP sort/transform
    # in the final aggregate — assert the per-TOKEN projection (the hot
    # path) is lambda-free by checking the window stage's project list
    plan = explain.formatted_plan(df)
    win_block = plan.split("Window")[1] if "Window" in plan else plan
    assert "lambdafunction" not in win_block.split("HashAggregate")[0].lower(), plan[:1500]


def test_shard_export_never_global_sorts(spark, sf_dir):
    """q180's whole point: the seeded global permutation + balanced shard
    assignment must NOT plan a global Sort/range-partitioning — the prefix
    sum shards on fixed-width key ranges and the only exchanges are
    hash-partitioned (shard-local window sorts are fine; a rangepartitioning
    exchange would mean Spark is globally sorting the corpus)."""
    from flink_adcom_spark.queries.text import q180_shard_export
    from flink_adcom_spark.plans.explain import formatted_plan

    plan = formatted_plan(q180_shard_export(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan[:2000]


def test_classifier_scoring_inlines_model_as_literal(spark, sf_dir):
    """q178's scoring pass must carry the trained weights as a LITERAL array
    (the driver-held-model topology) — no join against a model relation, so
    the plan has exactly the one aggregation exchange."""
    from flink_adcom_spark.plans.explain import formatted_plan, num_exchanges
    from flink_adcom_spark.queries.text import q178_quality_classifier

    df = q178_quality_classifier(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert num_exchanges(df) == 1, plan[:2000]


def test_unigram_matches_broadcast_inventory(spark, sf_dir):
    """q179's piece-match join must BROADCAST the inventory (it is
    vocabulary-statistics-sized at any corpus scale); a shuffled hash join
    here would re-shuffle the word grid once per round."""
    from flink_adcom_spark.plans.explain import formatted_plan
    from flink_adcom_spark.queries.text import q179_unigram_lm_tokenizer

    plan = formatted_plan(q179_unigram_lm_tokenizer(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_q156b_recall_path_is_codegen_not_hof(spark, sf_dir):
    """q156b's recall path must stay in whole-stage codegen: the signature
    pass is an exploded-row join + integer aggregate (the q158 lesson — a
    transform-over-planes HOF re-inlines the quantizer per lambda element,
    measured 60x slower), the plane table is BROADCAST, and no lambda may
    appear before the first aggregate (the exact-rescore fold on the
    bounded pool is the only legitimate HOF)."""
    from flink_adcom_spark.plans.explain import formatted_plan, has_broadcast_join

    df = get("q156b_contrastive_pool").build(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    # signature stage: everything before the first HashAggregate (the
    # (vec_id, p) integer dot) must be lambda-free
    assert "lambdafunction" not in plan.split("HashAggregate")[0].lower(), plan[:1500]


def test_q188_gram_pass_single_count_shuffle(spark, sf_dir):
    """q188's duplicated-gram detection is one distinct + one count shuffle
    on the digest — never a pairwise join; the islands window partitions by
    doc_id. No cartesian/broadcast-nested-loop anywhere."""
    from flink_adcom_spark.plans.explain import formatted_plan

    plan = formatted_plan(get("q188_substring_dedup").build(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_q190_model_inlined_and_class_table_broadcast(spark, sf_dir):
    """q190's scoring inlines the trained class x bucket weight matrix as a
    literal (driver-held-model, q178 discipline); the 5-row class table is
    broadcast into the feature relation."""
    from flink_adcom_spark.plans.explain import formatted_plan

    plan = formatted_plan(get("q190_trained_langid").build(spark, sf_dir))
    assert "BroadcastExchange" in plan, plan[:2000]


def test_q191_ngram_pass_no_pairwise_work_single_scan(spark, sf_dir):
    """q191 is ONE scan-side positions explode emitting all nine n-gram
    legs + two aggregates — no joins, and exactly one documents scan
    (VERDICT r10 polish: the nine-leg union re-scanned the text column
    nine times)."""
    from flink_adcom_spark.plans.explain import formatted_plan

    plan = formatted_plan(get("q191_gopher_repetition").build(spark, sf_dir))
    assert "Join" not in plan, plan[:2000]
    # one scan NODE: each scan contributes one file-index detail block
    assert plan.count("InMemoryFileIndex") == 1, plan[:2000]


def test_q196_adc_corpus_side_is_codes_plus_broadcast_codebook(spark, sf_dir):
    """q196's ADC pass must never join the corpus's FLOAT vectors on the
    search side: the corpus contribution is the assigned centroid looked up
    from a broadcast codebook literal, and the query side is broadcast
    (bounded q50 workload) — no shuffled hash join of two big sides."""
    from flink_adcom_spark.plans.explain import formatted_plan

    plan = formatted_plan(get("q196_pq_adc_knn").build(spark, sf_dir))
    # the q50 brute-force shape: queries broadcast (BuildLeft) into a
    # nested-loop over the corpus scan (the q_id <> n_id condition is
    # non-equi, so BNLJ — not a hash join — is the correct operator)
    assert "BroadcastNestedLoopJoin Inner BuildLeft" in plan
    assert "SortMergeJoin" not in plan


def test_q190_margin_join_broadcast_gated_on_corpus_size(spark, sf_dir):
    """q190's training margins are |classes| x |docs| rows — a relation that
    GROWS with the corpus (VERDICT r10 weak item). The broadcast hint on
    the join back onto the features is size-gated: above
    LANGID_BCAST_MAX_DOCS the round relation must carry NO hint, so with
    both broadcast thresholds at -1 (the 100 TB posture) the planner picks
    a shuffle join — a forced hint would still plan BroadcastHashJoin and
    OOM the driver at scale. Below the gate the hint applies (the measured
    bench plan)."""
    from flink_adcom_spark.queries.text import (
        LANGID_BCAST_MAX_DOCS, LANGID_BUCKETS, LANGID_CLASSES, _documents,
        _langid_misclassified, langid_fl,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text", "lang")
    fl = langid_fl(spark, docs)
    W = {ci: [0] * (LANGID_BUCKETS + 1)
         for ci in range(1, len(LANGID_CLASSES) + 1)}
    big = _langid_misclassified(fl, W, LANGID_BCAST_MAX_DOCS + 1)
    with _broadcast_disabled(spark):
        plan = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:2000]
    small = _langid_misclassified(fl, W, 100)
    with _broadcast_disabled(spark):
        plan = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_q200_ivfpq_probe_is_equi_hash_join_on_list(spark, sf_dir):
    """q200's whole point vs q196: the query->corpus join carries the list
    id as an EQUI key, so it plans as a broadcast HASH join (bounded probe
    side) pruning to probed lists — never the BroadcastNestedLoopJoin full
    scan q196 runs, and never a shuffle of the code table for 20 queries."""
    from flink_adcom_spark.plans.explain import formatted_plan

    plan = formatted_plan(get("q200_ivfpq_knn").build(spark, sf_dir))
    search = plan.split("BroadcastHashJoin")
    assert len(search) >= 2, plan[:2000]
    # the only BNLJ allowed is the bounded query x cells routing cross
    assert "BroadcastNestedLoopJoin Inner" not in plan, plan[:2000]


def test_q203_partitioned_index_gets_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """q203's serving claim: with the code table PARTITIONED BY the list id
    on disk, the probe equi-join must plan dynamic partition pruning on the
    index scan (a dynamicpruning subquery fed by the broadcast probe side),
    so unprobed lists are never read — the property that bounds per-query
    I/O at 100 TB."""
    import os

    from pyspark.sql import functions as F

    from flink_adcom_spark.queries.similarity import (
        IVFPQ_NPROBE, N_QUERY_VECS, PQ_M, PQ_SUB, _emb, _ivf_cells,
        _ivf_probe, _pq_books, adc_topk, pq_code_str_col,
        pq_decode_codes,
    )

    e = _emb(spark, sf_dir)
    books = _pq_books(spark, sf_dir)
    idx = os.path.join(str(tmp_path), "code_index")
    e.select(
        "vec_id", "label", pq_code_str_col(books).alias("code_str")
    ).write.partitionBy("label").mode("overwrite").parquet(idx)
    probe = _ivf_probe(
        e.filter(F.col("vec_id") < N_QUERY_VECS),
        _ivf_cells(spark, sf_dir), IVFPQ_NPROBE,
    )
    qs = probe.select(
        "q_id", F.col("label").alias("plabel"),
        *[F.slice("qv", m * PQ_SUB + 1, PQ_SUB).alias(f"qv{m}")
          for m in range(PQ_M)],
    )
    x = pq_decode_codes(spark.read.parquet(idx), extra_cols=("label",))
    plan = (
        adc_topk(qs, x, books, list_key=("plabel", "label"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "dynamicpruning" in plan, plan[:3000]
    assert "BroadcastHashJoin [plabel" in plan, plan[:3000]


def test_q230_prefix_sum_window_is_band_partitioned(spark, sf_dir):
    """q230's whole point: the running-sum window must be PARTITIONED (by
    score band), never the global no-partition window that moves the corpus
    to one task — and the cross-band structure must be a literal offset map,
    not a second corpus pass."""
    df = get("q230_token_budget_select").build(spark, sf_dir)
    plan = explain.formatted_plan(df)
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert spec.lstrip().startswith("band"), f"unpartitioned window: {spec}"
    assert "element_at(map(" in plan  # offsets ride as a literal, no join


def test_fim_samples_never_hash_shuffles(spark, sf_dir):
    """q245's whole claim: the FIM transform is a pure scan-side projection
    — seeded split points and slices never key-shuffle. The single allowed
    exchange is widen_scan's ROUND-ROBIN repartition (a bench-scale no-op
    guard, see tables.widen_scan: absent at real scale where the scan
    arrives wide)."""
    df = get("q245_fim_samples").build(spark, sf_dir)
    assert explain.num_exchanges(df) <= 1
    plan = explain.formatted_plan(df)
    assert "hashpartitioning" not in plan.lower()
    cols = explain.scan_columns(df)
    assert "text" in cols and "lang" not in cols and "source" not in cols


def test_ccnet_scoring_broadcast_gate_seam(spark, sf_dir):
    """The LM relations (vocab/bigram/predecessor counts) broadcast below
    CCNET_BCAST_MAX_DOCS — the q190 size-gate discipline: under the gate
    the scoring joins carry the broadcast hint, past it the hint is
    withheld (AQE then owns the strategy)."""
    from flink_adcom_spark.queries.text import _ccnet_lm, ccnet_score_vs_lm
    from flink_adcom_spark.tables import load_table

    vw, v, bc, uc = _ccnet_lm(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    gated = ccnet_score_vs_lm(docs, vw, v, bc, uc, n_docs=100)
    assert explain.has_broadcast_join(gated)
    ungated = ccnet_score_vs_lm(docs, vw, v, bc, uc, n_docs=10**9)
    logical = ungated._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical


def test_q157_ranks_only_its_take_ordered_top_k(spark, sf_dir):
    """q157's global top-k is one TakeOrderedAndProject, and the rank window
    reads only its BM25_TOP rows — never the corpus-sized score relation
    moved to one partition."""
    plan = explain.formatted_plan(get("q157_bm25_topk").build(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree, tree
    # the window sits directly on the top-k: no sort or exchange between
    assert tree.index("Window") < tree.index("TakeOrderedAndProject"), tree
    between = tree[tree.index("Window"):tree.index("TakeOrderedAndProject")]
    assert "Exchange" not in between and "Sort" not in between, tree
