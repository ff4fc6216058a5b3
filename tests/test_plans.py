"""Plan-shape contract tests: enforce the 100 TB design decisions —
broadcasts stay broadcasts, filters reach the parquet scan, projections
prune columns, the disjunctive join never degrades to a nested loop."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

import fixtures as fx
from lakehouse_spain_mobility_spark.catalog import Warehouse
from lakehouse_spain_mobility_spark.operators import spatial
from lakehouse_spain_mobility_spark.operators.gravity import assemble_gravity_data
from lakehouse_spain_mobility_spark.operators.long_trip import long_trip_dependency
from lakehouse_spain_mobility_spark.pipelines import economy, geometry, gravity_bq, mitma, population
from lakehouse_spain_mobility_spark.plans import inspect as pi
from lakehouse_spain_mobility_spark.queries import load_all
from lakehouse_spain_mobility_spark.queries.tables import load

from conftest import SF_DIR_ORACLE

REG = load_all()


def test_filter_pushdown_reaches_parquet(spark):
    li = load(spark, SF_DIR_ORACLE, "lineitem")
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    pushed = pi.pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed


def test_column_pruning_two_column_projection(spark):
    li = load(spark, SF_DIR_ORACLE, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    schemas = pi.read_schemas(df)
    assert schemas and all(
        set(s.split(",")) <= {"l_orderkey:bigint", "l_quantity:double"} for s in schemas
    ), schemas


def test_multiway_join_all_broadcast(spark):
    """J2: every dim join must be a BroadcastHashJoin — the fact side never
    shuffles for dimension joins."""
    df = REG["multiway_left_join"].build(spark, SF_DIR_ORACLE)
    assert pi.count_broadcast_joins(df) >= 3
    assert pi.count_sortmerge_joins(df) == 0


def test_disjunctive_join_is_not_nested_loop(spark):
    """J4 rewrite contract: the OR-join must plan as two hash joins + union,
    never BroadcastNestedLoopJoin (SURVEY §4.3)."""
    df = REG["disjunctive_join"].build(spark, SF_DIR_ORACLE)
    assert pi.count_nested_loop_joins(df) == 0
    assert pi.count_broadcast_joins(df) >= 2


def test_gravity_dims_broadcast(spark):
    # inspect the assembly stage: gravity_analysis checkpoints it, which
    # hides the upstream joins from the final plan
    df = REG["gravity_data"].build(spark, SF_DIR_ORACLE)
    assert pi.count_broadcast_joins(df) >= 3
    # allowed nested-loop: only the 25×25 nation distance cross join —
    # never the fact-side joins
    assert pi.count_nested_loop_joins(df) <= 1


def test_typical_day_bounded_exchange_plan(spark):
    """Broadcast form (r4 default): nothing fact-sized crosses an
    exchange — the stats aggregation exchanges map-side partials
    (≤|groups| per input partition), the stats table joins back as a
    BROADCAST onto an unshuffled scan, and the final aggregation's
    partials collapse again (the COUNT DISTINCT date rewrite adds a
    (keys, date)-level exchange, still bounded by |groups × dates|).
    Exactly three such exchanges, zero sort-merge joins."""
    df = REG["typical_day"].build(spark, SF_DIR_ORACLE)
    assert pi.count_shuffles(df) == 3
    assert pi.count_broadcast_joins(df) >= 1
    assert pi.count_sortmerge_joins(df) == 0
    assert pi.has_whole_stage_codegen(df)  # final (AQE-resolved) plan
    # the window form remains available and bit-identical
    from lakehouse_spain_mobility_spark.queries.core import q_typical_day

    w = q_typical_day(spark, SF_DIR_ORACLE, form="window")
    assert pi.count_shuffles(w) == 1
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, df.collect()))


def test_events_scan_prunes_unused_columns(spark):
    df = REG["typical_day"].build(spark, SF_DIR_ORACLE)
    schemas = pi.read_schemas(df)
    # props/event_id never read
    assert schemas and all("props" not in s and "event_id" not in s for s in schemas), schemas


def test_tpch_q1_pushdown_and_pruning(spark):
    """Q1 contract: the shipdate predicate reaches the parquet scan and the
    scan reads only the 7 referenced columns (no l_orderkey/partkey/suppkey)."""
    df = REG["tpch_q1"].build(spark, SF_DIR_ORACLE)
    pushed = pi.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    schemas = pi.read_schemas(df)
    assert schemas and all(
        "l_orderkey" not in s and "l_partkey" not in s and "l_suppkey" not in s
        for s in schemas
    ), schemas
    assert pi.count_shuffles(df) == 1  # one exchange for the groupBy


def test_tpch_q3_broadcast_and_top10(spark):
    """Q3 contract: customer joins as broadcast, and the ORDER BY+LIMIT
    plans as TakeOrderedAndProject — never a global sort."""
    df = REG["tpch_q3"].build(spark, SF_DIR_ORACLE)
    assert pi.count_broadcast_joins(df) >= 1
    plan = pi.final_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_tpch_q4_pushdown_and_semi(spark):
    """Q4 contract: the quarter predicate reaches the orders parquet scan
    (both branches) and the EXISTS correlate plans as a LeftSemi, never a
    nested loop."""
    df = REG["tpch_q4"].build(spark, SF_DIR_ORACLE)
    pushed = pi.pushed_filters(df)
    assert any("o_orderdate" in p for p in pushed), pushed
    assert "LeftSemi" in pi.executed_plan(df)
    assert pi.count_nested_loop_joins(df) == 0


def test_tpch_q5_all_dims_broadcast(spark):
    """Q5 contract: region/nation/supplier/customer all broadcast — the
    only shuffle is the final per-nation aggregation."""
    df = REG["tpch_q5"].build(spark, SF_DIR_ORACLE)
    assert pi.count_broadcast_joins(df) >= 4
    assert pi.count_sortmerge_joins(df) == 0


def test_tpch_q17_brand_broadcast_joinback_shape(spark):
    """Q17 contract: the brand-pruned part dim broadcasts; the avg
    join-back keys both fact-sized sides on l_partkey (sort-merge is the
    correct choice there, not a nested loop)."""
    df = REG["tpch_q17"].build(spark, SF_DIR_ORACLE)
    assert pi.count_broadcast_joins(df) >= 1
    assert pi.count_nested_loop_joins(df) == 0
    pushed = pi.pushed_filters(df)
    assert any("p_brand" in p for p in pushed), pushed


def test_connected_components_round_count(spark):
    """The near-dup graph (small cliques) must converge in <= 4 label
    rounds — the property that bounds the CC loop's shuffle count at any
    corpus size."""
    from lakehouse_spain_mobility_spark.operators import dedup as dd
    from lakehouse_spain_mobility_spark.operators.graph import connected_components

    d = load(spark, SF_DIR_ORACLE, "documents")
    edges = dd.jaccard_pairs(dd.shingles(d, "doc_id", "text"), min_jaccard=0.5)
    full = connected_components(edges.select("d1", "d2"))
    capped = connected_components(edges.select("d1", "d2"), max_iter=4)
    assert sorted(full.collect()) == sorted(capped.collect())


def test_tpch_q10_single_shuffle_topk(spark):
    """Q10 contract: both joins broadcast (the fact never shuffles for a
    join), exactly one exchange (the customer-key aggregation), and the
    top-20 is TakeOrderedAndProject, not a global sort."""
    df = REG["tpch_q10"].build(spark, SF_DIR_ORACLE)
    assert pi.count_broadcast_joins(df) >= 2
    assert pi.count_sortmerge_joins(df) == 0
    assert pi.count_shuffles(df) == 1
    assert "TakeOrderedAndProject" in pi.executed_plan(df)


def test_simhash_banded_join_no_cartesian(spark):
    """DD-simhash scale contract: the banded candidate join must plan as an
    equi-join on (band, value) — never a cartesian/nested-loop product —
    while returning exactly the all-pairs result (pigeonhole recall)."""
    from lakehouse_spain_mobility_spark.operators import dedup as dd

    d = load(spark, SF_DIR_ORACLE, "documents").limit(300)
    fps = dd.simhash_fingerprints(d, "doc_id", "text").localCheckpoint(eager=True)
    banded = dd.simhash_pairs(fps, max_hamming=3)
    assert pi.count_nested_loop_joins(banded) == 0
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = sorted(map(tuple, banded.collect()))
    want = sorted(map(tuple, dd.simhash_pairs_allpairs(fps, max_hamming=3).collect()))
    assert got == want and len(got) > 0


def test_bloom_bitmap_join_broadcast(spark):
    """BLOOM contract: the bitmap ships as a literal array (collected once,
    ≤ m/32 words — round-3 upgrade from the relational broadcast join), so
    the bloom probe itself must involve NO join; the exact-truth gram join
    (r11: left broadcast, fused with the probe pass) and the final doc
    flags stay broadcast, and nothing may plan as a cartesian product."""
    df = REG["bloom_decontamination"].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    assert pi.count_broadcast_joins(df) >= 2  # exact gram join + flags join
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # nothing big enough to shuffle-join


def test_bloom_fused_flags_identical_and_single_gram_pass(spark):
    """r11 fused-flags contract: the training gram stream (explode + md5 +
    probes — the query's dominant map work) is built ONCE, with the bloom
    probe and the exact-truth flag computed in the same pass; and the
    per-lang output matches the r10 twin-pipeline form row-for-row."""
    from lakehouse_spain_mobility_spark.queries import bloom as bl

    df = REG["bloom_decontamination"].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    # one gram construction on the training side, one on the bench side:
    # each gram pass is one `Generate explode(sequence(...))`; the twin-
    # pipeline form carried two training passes (three Generates total).
    assert plan.count("Generate explode(sequence(1") == 2, plan
    # r10 twin-pipeline reference, inline (two gram passes, two DISTINCTs,
    # two flag joins) — row equality proves the fusion changed nothing.
    d = load(spark, SF_DIR_ORACLE, "documents")
    words = F.split(F.col("text"), " ")
    grams = (
        d.filter(F.size(words) >= bl._W)
        .select(
            "doc_id", "lang", words.alias("w"),
            F.explode(F.sequence(F.lit(1), F.size(words) - (bl._W - 1))).alias("i"),
        )
        .select("doc_id", "lang",
                F.concat_ws(" ", F.slice("w", F.col("i"), bl._W)).alias("g"))
    )
    bench_grams = grams.filter(F.col("doc_id") < bl._BENCH).select("g").distinct()
    train_grams = grams.filter(F.col("doc_id") >= bl._BENCH)
    exact_flagged = (
        train_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id").distinct().withColumn("exact", F.lit(1))
    )
    # bloom side of the reference reuses the committed probe helpers over
    # the same literal bitmap the query builds, so only the FUSION differs.
    got = sorted(map(tuple, df.collect()))
    n_exact = {r.lang: r.n_exact_flagged for r in (
        d.filter(F.col("doc_id") >= bl._BENCH)
        .join(exact_flagged, "doc_id", "left").groupBy("lang")
        .agg(F.sum(F.coalesce(F.col("exact"), F.lit(0))).cast("bigint")
             .alias("n_exact_flagged")).collect()
    )}
    assert {r[0]: r[3] for r in got} == n_exact  # lang -> n_exact_flagged


def test_pagerank_dims_broadcast(spark):
    """GRAPH-pagerank contract: dimension joins in the edge build and the
    per-iteration rank joins all broadcast — the fact table shuffles only
    for the final (src,dst) aggregation. The edge build is asserted on
    its un-checkpointed factoring (the loop-invariant checkpoint truncates
    lineage, hiding that sub-plan from the outer query's plan string)."""
    from lakehouse_spain_mobility_spark.queries.graphrank import _nation_edges

    assert pi.count_broadcast_joins(_nation_edges(spark, SF_DIR_ORACLE)) >= 4
    df = REG["pagerank_nations"].build(spark, SF_DIR_ORACLE)
    assert pi.count_broadcast_joins(df) >= 3  # the per-iteration rank joins
    assert pi.count_nested_loop_joins(df) <= 2  # node_count scalar cross joins only


def test_pagerank_rank_join_degrades_past_broadcast_cap(spark):
    """Scale guard (VERDICT r2): above PAGERANK_BROADCAST_CAP the
    per-iteration rank join must flip from broadcast to a shuffle join —
    the broadcast-a-web-graph's-rank-vector failure mode is structurally
    unreachable. Asserted by forcing the cap to 0 on the same tiny graph."""
    from lakehouse_spain_mobility_spark.queries.graphrank import _pagerank_iterate

    nodes = spark.range(6).select(F.concat(F.lit("N"), F.col("id")).alias("node"))
    trans = (
        spark.range(5)
        .select(
            F.concat(F.lit("N"), F.col("id")).alias("src"),
            F.concat(F.lit("N"), F.col("id") + 1).alias("dst"),
            F.lit(1.0).alias("p"),
        )
    )
    below = _pagerank_iterate(nodes, trans, 6, iters=1, broadcast_cap=1_000)
    assert pi.count_broadcast_joins(below) >= 1
    assert pi.count_sortmerge_joins(below) == 0

    above = _pagerank_iterate(nodes, trans, 6, iters=1, broadcast_cap=0)
    # the rank-side join must NOT be a broadcast: with AQE it plans as a
    # sort-merge or shuffled-hash join on src
    assert pi.count_sortmerge_joins(above) + pi.count_shuffled_hash_joins(above) >= 1


def test_bm25_stats_broadcast_and_pruned_scan(spark):
    """TXT-bm25 contract (round-8 single-pass shape): the corpus is
    tokenized ONCE into a per-doc conditional-aggregation table; dl/tf/df
    all derive from it, so the executed plan carries ONE parquet scan with
    the stats consumer sharing the doc-grain exchange (ReusedExchange),
    and the scalar stats row rides a broadcast. The documents scan reads
    only doc_id and text."""
    df = REG["bm25_search"].build(spark, SF_DIR_ORACLE)
    plan = pi.final_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    scans, _, reused = pi.audit_counts(df)
    assert scans == 1, f"{scans} scans — the corpus is tokenized more than once"
    assert reused >= 1, "stats branch no longer shares the doc-grain exchange"
    schemas = pi.read_schemas(df)
    assert schemas and all("lang" not in s and "source" not in s for s in schemas), schemas


def test_gap_fill_scan_pruned(spark):
    """TS-gapfill contract: the events scan reads only (ts, event_type,
    value); grid generation is distributed (no cartesian product)."""
    df = REG["gap_fill_interpolate"].build(spark, SF_DIR_ORACLE)
    schemas = pi.read_schemas(df)
    assert schemas and all("props" not in s and "user_id" not in s for s in schemas), schemas
    assert "CartesianProduct" not in pi.executed_plan(df)


def test_scd2_two_window_passes_share_sort(spark):
    """SCD2 contract: the orders scan reads only (o_custkey, o_orderdate);
    the whole build costs exactly ONE exchange — the up-front c_custkey
    repartition satisfies the yearly agg's clustered distribution (hash on
    a subset of its grouping keys) and both window specs (r4)."""
    df = REG["scd2_history"].build(spark, SF_DIR_ORACLE)
    schemas = pi.read_schemas(df)
    assert schemas and all("o_totalprice" not in s and "o_orderstatus" not in s for s in schemas), schemas
    assert pi.count_shuffles(df) == 1


def test_substring_span_dedup_no_pair_enumeration(spark):
    """Round-3 span-dedup contract: duplicated k-grams are marked by a hash
    aggregation and carried back by a semi join — the plan must contain no
    cartesian/nested-loop product, and the documents scan must prune to
    (doc_id, text)."""
    df = REG["substring_span_dedup"].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    assert pi.count_nested_loop_joins(df) == 0
    assert "CartesianProduct" not in plan
    schemas = pi.read_schemas(df)
    assert schemas and all(
        "lang" not in s and "source" not in s for s in schemas
    ), schemas
    # r4: cross-doc marking is min/max(doc_id) — COUNT(DISTINCT) would
    # shuffle the gram relation twice ((gh,doc_id) then gh)
    assert "count(distinct" not in plan.lower(), plan[:2000]
    # and the two island windows share ONE sort (same partition+order)
    final = pi.final_plan(df)
    head = final.split("== Initial Plan ==")[0]
    import re as _re
    assert len(_re.findall(r"\bSort \[", head)) <= 1, head[:2000]


@pytest.mark.parametrize(
    "name",
    ["pq_adc_search", "bm25_search", "perplexity_filter", "dsir_weights",
     "pmi_bigrams", "tpch_q2", "maxsim_rerank"],
)
def test_global_topk_is_heap_not_world_sort(spark, name):
    """SCALE.md:16 contract (VERDICT r3 #1): global top-k must plan as
    TakeOrderedAndProject (per-partition k-heaps merged on the driver) —
    never a row_number window over an empty partitionBy, which shuffles
    the whole scored relation to ONE task. The rank window that re-attaches
    positions exists but sees only the <=k survivors, i.e. it sits ABOVE
    the TakeOrderedAndProject in the executed plan."""
    df = REG[name].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    # the rank window's input must be the limited set: the plan string for
    # the Window's child subtree must contain the TakeOrderedAndProject
    widx = plan.index("Window")
    assert "TakeOrderedAndProject" in plan[widx:], plan[:2000]


def test_temperature_mix_rate_table_broadcast(spark):
    """TD-mix contract: the per-language rate table joins to the corpus as
    a broadcast (5 rows), never a shuffle of the document side."""
    df = REG["temperature_mix"].build(spark, SF_DIR_ORACLE)
    assert pi.count_broadcast_joins(df) >= 1
    assert pi.count_sortmerge_joins(df) == 0


def test_source_quota_cap_salted_windows_and_pruned_scan(spark):
    """Domain-capping contract: the documents scan prunes to (source,
    doc_id, n_chars); the phase-1 rank window partitions by (source,
    SALT) — never by source alone over the full corpus — and the
    per-source totals join back as a broadcast."""
    df = REG["source_quota_cap"].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    schemas = pi.read_schemas(df)
    assert schemas and all("text" not in s and "lang" not in s for s in schemas), schemas
    # the salt expression is part of a window partition spec
    assert "pmod" in plan, plan[:2000]
    assert pi.count_broadcast_joins(df) >= 1
    assert "CartesianProduct" not in plan


def test_curriculum_order_cdf_window_is_value_domain_bounded(spark):
    """Curriculum contract: the only empty-partition window runs over the
    n_chars HISTOGRAM (value-domain bounded), never the corpus — the
    corpus-side windows must all carry a partition spec; the decile map
    and stats join back as broadcasts; scan prunes to (doc_id,
    n_chars)."""
    df = REG["curriculum_order"].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    schemas = pi.read_schemas(df)
    assert schemas and all("text" not in s and "source" not in s for s in schemas), schemas
    import re

    # every windowspecdefinition over a relation containing doc_id (the
    # corpus side) must have partition columns; the histogram cumsum is
    # the one window allowed to be global, and it never sees doc_id
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan[:2000]
    global_specs = [s for s in specs if s.strip().startswith("n_chars") or ", " not in s.split("ASC")[0]]
    # at least: salted rank + per-decile rank carry partition specs
    parted = [s for s in specs if "decile" in s or "pmod" in s]
    assert parted, specs
    assert pi.count_broadcast_joins(df) >= 2
    assert "CartesianProduct" not in plan or "total" in plan  # scalar-broadcast crossJoin only


def test_frequent_itemsets_no_cartesian_single_fact_exchange(spark):
    """The basket self-join and every aggregate ride the ONE repartition
    on the basket key (subset-key clustering, SCALE.md §8g); the dims
    broadcast; no nested loop anywhere (the 1-row scalar cross joins
    plan as broadcast NLJ and are bounded — fact joins must not)."""
    df = REG["frequent_itemsets"].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    # part-dim broadcast, pair join is an equi join on o
    assert pi.count_broadcast_joins(df) >= 3  # part dim + freq/support joins
    # nested loops allowed ONLY as 1-row scalar crosses (n_baskets is
    # consumed by several filters; each consumer re-plans the cross) — a
    # degraded equi join would print Inner/LeftOuter, never Cross
    import re as _re
    nlj_lines = [ln for ln in plan.splitlines() if "NestedLoopJoin" in ln]
    assert all("Cross" in ln for ln in nlj_lines), plan
    # every wide exchange hashes on the basket key o or a tiny agg key —
    # never on (o, item) (the repartition(o) satisfies the dedup agg)
    import re
    multi = [m for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
             if m.count("#") > 1 and m.split(",")[0].strip().startswith("o")]
    assert not multi, multi


def test_inverted_index_all_aggs_partial_no_posting_buffering(spark):
    """Round-10 kernel shape: the postings relation never crosses an
    exchange — a MapInPandas emits vocab-bounded per-batch term partials,
    the ONE exchange carries those partials (map-side partial_sum before
    it), and the top-50 is TakeOrderedAndProject. No collect_list
    anywhere (the checksum is an order-free SUM)."""
    df = REG["inverted_index"].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    lower = plan.lower()
    assert "collect_list" not in lower, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "mapinpandas" in lower, plan[:2000]
    assert "partial_sum" in lower, plan[:2000]
    # the relational twin (unbounded-vocab route) keeps the round-5
    # contract: pair agg with map-side partials, no posting buffering
    df2 = REG["inverted_index_relational"].build(spark, SF_DIR_ORACLE)
    plan2 = pi.executed_plan(df2)
    assert "collect_list" not in plan2.lower(), plan2[:2000]
    assert "partial_count" in plan2.lower(), plan2[:2000]


def test_join_size_estimate_sketch_joins_bounded(spark):
    """Sketch-sketch and scalar joins only: the |keys| count relation is
    checkpointed once, the 2048/65536-cell sketch join is tiny, and no
    join ever touches two fact-sized sides."""
    df = REG["join_size_estimate"].build(spark, SF_DIR_ORACLE)
    # 1-row scalar cross joins are the only nested loops
    assert pi.count_nested_loop_joins(df) <= 2
    # no sort-merge join: every real join side is sketch- or scalar-sized
    assert pi.count_sortmerge_joins(df) == 0


def test_boilerplate_flag_join_on_source_and_hash(spark):
    """The template set joins back on (source, lh) — an equi join,
    never a pair enumeration; source doc counts broadcast."""
    df = REG["boilerplate_removal"].build(spark, SF_DIR_ORACLE)
    assert pi.count_nested_loop_joins(df) == 0
    assert pi.count_broadcast_joins(df) >= 1


def test_tpch_q11_total_is_reused_exchange_not_global_window(spark):
    """VERDICT r4 #4: Q11's global total must come from a 1-row agg
    crossJoin(broadcast)-ed back — no empty-partitionBy Window anywhere
    (the old form one-task-scanned the whole part-level frame at 100×) —
    and both consumers of per_part must share ONE materialized
    Exchange(hash(ps_partkey)) via ReuseExchange, so the ps pipeline
    never executes twice."""
    df = REG["tpch_q11"].build(spark, SF_DIR_ORACLE)
    df.collect()  # AQE finalizes reuse at runtime
    plan = pi.executed_plan(df)
    assert "Window" not in plan, plan[:2000]
    assert "ReusedExchange" in plan, plan[:3000]


def test_bitext_margin_lsh_no_pair_enumeration(spark):
    """The candidate-bounded bitext path must never enumerate the A×B
    grid: candidates come from an equi-join on (band, sg) — no
    CartesianProduct, no BroadcastNestedLoop anywhere in the plan."""
    df = REG["bitext_margin_lsh"].build(spark, SF_DIR_ORACLE)
    plan = pi.executed_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert pi.count_nested_loop_joins(df) == 0


def test_bitext_margin_lsh_side_broadcast_degrades_past_cap(spark):
    """Scale guard (VERDICT r5 #2): the language-side joins broadcast iff
    the side fits MAX_BROADCAST_ROWS; past the cap the forced F.broadcast
    hint — which never falls back, it dies in the driver — must flip to a
    spilling shuffle join (the graphrank/ANN degrade-loudly pattern).
    Asserted by forcing the cap to 0 on the same corpus."""
    from lakehouse_spain_mobility_spark.queries.similarity import (
        _bitext_margin_lsh,
    )

    # Disable the planner's own size-based broadcasts: at test scale every
    # relation fits the auto threshold, which would mask the hint flip.
    # With it off, a BroadcastHashJoin can only come from the F.broadcast
    # hint — the exact thing the cap guard must add/remove.
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        below = _bitext_margin_lsh(spark, SF_DIR_ORACLE, broadcast_cap=10**9)
        assert pi.count_broadcast_joins(below) >= 2  # both sides hinted

        above = _bitext_margin_lsh(spark, SF_DIR_ORACLE, broadcast_cap=0)
        # past the cap no hint is attached: the side joins must plan as
        # sort-merge or shuffled-hash joins on the id keys, zero broadcasts
        assert pi.count_broadcast_joins(above) == 0
        assert (
            pi.count_sortmerge_joins(above) + pi.count_shuffled_hash_joins(above) >= 2
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        if saved_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved_aqe)


def test_bitext_margin_lsh_dedup_same_plan_shape(spark):
    """The dedup variant composes one (label, embedding) hash aggregation
    in front of the identical candidate-bounded plan — still no pair
    enumeration anywhere."""
    df = REG["bitext_margin_lsh_dedup"].build(spark, SF_DIR_ORACLE)
    assert pi.count_nested_loop_joins(df) == 0


def test_bitext_single_scoring_pass(spark):
    """The per-src / per-tgt neighborhood views split on an AGGREGATE
    OUTPUT (max(side)), never a group key: a group-key filter would push
    through the final aggregation and fork the scoring segment (join
    merge + cosine projection + doubled-row Generate + partial agg) into
    per-branch executions. The executed plan must carry the shared
    scoring subtree as a ReusedExchange under one of the two branches."""
    df = REG["bitext_margin_lsh"].build(spark, SF_DIR_ORACLE)
    plan = pi.final_plan(df)
    # The ReusedExchange/reused-stage node is the single-execution proof:
    # a group-key-filter regression forks the scoring segment into two
    # INDEPENDENT pipelines with nothing shared, so no reuse node appears.
    # (String-counting the aggregate can NOT distinguish the shapes — both
    # the optimized-logical and the AQE final tree re-print a reused
    # stage's subtree once per consuming branch — ADVICE r7.)
    assert "ReusedExchange" in plan, plan[:3000]


def test_shingles_array_distinct_equals_global_distinct(spark):
    """r10 shingle rewrite contract: array_distinct-before-explode must
    return exactly the rows of the old explode-then-.distinct() form
    (valid because doc_id is unique per input row), with no exchange
    between the scan-side project and the explode."""
    from pyspark.sql import functions as F

    from lakehouse_spain_mobility_spark.operators import dedup as dd
    from lakehouse_spain_mobility_spark.operators import text_analysis as ta

    d = load(spark, SF_DIR_ORACLE, "documents")
    new = dd.shingles(d, "doc_id", "text")
    norm = ta.normalize_text(F.col("text"))
    toks = d.select(F.col("doc_id"), F.split(norm, " ").alias("tokens")).filter(
        F.size("tokens") >= 3
    )
    old_sh = F.expr(
        "transform(sequence(0, size(tokens)-3), i -> concat_ws(' ', slice(tokens, i+1, 3)))"
    )
    old = toks.select("doc_id", F.explode(old_sh).alias("shingle")).distinct()
    assert sorted(new.collect()) == sorted(old.collect())


def test_capped_jaccard_pairs_equals_join_form(spark):
    """r10 fused posting-list Jaccard contract: identical rows (incl. the
    double jaccard value bit-for-bit) to the df_capped_shingles +
    jaccard_pairs join form it replaced."""
    from lakehouse_spain_mobility_spark.operators import dedup as dd
    from lakehouse_spain_mobility_spark.queries.dedup import MAX_SHINGLE_DF

    d = load(spark, SF_DIR_ORACLE, "documents")
    sh = dd.shingles(d, "doc_id", "text").localCheckpoint(eager=True)
    fused = dd.capped_jaccard_pairs(sh, MAX_SHINGLE_DF, min_jaccard=0.5)
    join_form = dd.jaccard_pairs(
        dd.df_capped_shingles(sh, MAX_SHINGLE_DF), min_jaccard=0.5
    )
    assert sorted(fused.collect()) == sorted(join_form.collect())


def test_prefix_filter_positional_filter_preserves_output(spark):
    """r10 PPJoin positional-filter contract: the candidate prune
    (1 + min(n_a-pos_a, n_b-pos_b) >= alpha) must not change the verified
    pair set — recall holds because the globally-smallest shared token of
    any qualifying pair is a prefix-prefix match."""
    from lakehouse_spain_mobility_spark.queries import load_all

    spec = load_all()["prefix_filter_join"]
    got = sorted(spec.build(spark, SF_DIR_ORACLE).collect())
    import duckdb

    from lakehouse_spain_mobility_spark.oracle import duckdb_connection

    con = duckdb_connection(SF_DIR_ORACLE)
    want = sorted(con.execute(spec.oracle).fetchall())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_posting_lists_bounded_state_ordering(spark):
    """r11 scale-safety contract (VERDICT r10 #1): the df cap must apply
    BEFORE any doc list is aggregated, so no collect_list buffer can ever
    exceed max_df ids. Plan shape: a Window count + Filter strictly below
    the collect_list aggregation, all riding ONE exchange; and the output
    matches the old collect-then-filter form row-for-row."""
    from pyspark.sql import functions as F

    from lakehouse_spain_mobility_spark.operators import dedup as dd
    from lakehouse_spain_mobility_spark.queries.dedup import MAX_SHINGLE_DF

    d = load(spark, SF_DIR_ORACLE, "documents")
    sh = dd.shingles(d, "doc_id", "text").localCheckpoint(eager=True)
    post = dd.posting_lists(sh, MAX_SHINGLE_DF)
    plan = post._sc._jvm.PythonSQLUtils.explainString(
        post._jdf.queryExecution(), "formatted"
    )
    # exactly one exchange above the checkpointed shingle scan (each node
    # appears twice in formatted output: tree line + detail header)
    assert plan.count("+- Exchange") == 1 and plan.count("Exchange") == 2, plan
    # the bounding Window count sits below the list aggregation
    i_window = plan.index("Window")
    i_agg = plan.index("ObjectHashAggregate")
    assert i_window > i_agg  # formatted plans list operators top-down (root first)
    # row equality with the unbounded r10 form
    old = (
        sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("docs"))
        .filter(F.size("docs") <= MAX_SHINGLE_DF)
    )
    new_rows = sorted((r.shingle, sorted(r.docs)) for r in post.collect())
    old_rows = sorted((r.shingle, sorted(r.docs)) for r in old.collect())
    assert new_rows == old_rows


def test_capped_jaccard_pairs_broadcast_gate_paths_identical(spark):
    """r11 gated-broadcast contract (ADVICE r10): both gate outcomes —
    broadcast hint on the per-doc sizes vs shuffle join — must return
    identical rows, and the gate helper must bound by parquet metadata."""
    from lakehouse_spain_mobility_spark.operators import dedup as dd
    from lakehouse_spain_mobility_spark.queries.dedup import MAX_SHINGLE_DF

    assert dd.docs_fit_broadcast(SF_DIR_ORACLE) is True
    assert dd.docs_fit_broadcast(SF_DIR_ORACLE, cap=1) is False

    d = load(spark, SF_DIR_ORACLE, "documents")
    sh = dd.shingles(d, "doc_id", "text").localCheckpoint(eager=True)
    hinted = dd.capped_jaccard_pairs(
        sh, MAX_SHINGLE_DF, min_jaccard=0.5, broadcast_sizes=True
    )
    unhinted = dd.capped_jaccard_pairs(
        sh, MAX_SHINGLE_DF, min_jaccard=0.5, broadcast_sizes=False
    )
    assert sorted(hinted.collect()) == sorted(unhinted.collect())


def test_dedup_pipeline_array_verification_identical(spark):
    """r11 verification contract: dedup_pipeline's Jaccard check runs on
    per-candidate-doc shingle ARRAYS (size(array_intersect) in-row — group
    state bounded by document length) and must return rows identical to
    the r10 shingle self-join + pair re-aggregation form."""
    from lakehouse_spain_mobility_spark.operators import dedup as dd
    from lakehouse_spain_mobility_spark.queries.tables import spread

    df = REG["dedup_pipeline"].build(spark, SF_DIR_ORACLE)
    assert "array_intersect" in pi.executed_plan(df)
    got = sorted(map(tuple, df.collect()))

    # r10 reference form, inline: jaccard_pairs over the candidate-
    # restricted shingles, intersected with the LSH candidate pairs.
    d = load(spark, SF_DIR_ORACLE, "documents")
    exact_keep = dd.exact_dedup_groups(d, "doc_id", "text").select(
        F.col("keep_doc_id").alias("doc_id")
    )
    docs_kept = d.join(exact_keep, "doc_id", "left_semi")
    sh = spread(
        dd.shingles(docs_kept, "doc_id", "text").localCheckpoint(eager=True), spark
    )
    cands = (
        dd.lsh_candidate_pairs(dd.lsh_bands(dd.minhash_signatures(sh)))
        .select("d1", "d2")
        .localCheckpoint(eager=False)
    )
    cand_docs = (
        cands.select(F.col("d1").alias("doc_id"))
        .union(cands.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(cand_docs, "doc_id", "left_semi")
    verified = dd.jaccard_pairs(sh_c, min_jaccard=0.5).join(cands, ["d1", "d2"])
    removed = verified.select(F.col("d2").alias("doc_id")).distinct()
    flagged = (
        d.join(exact_keep.withColumn("is_kept", F.lit(1)), "doc_id", "left")
        .join(removed.withColumn("is_removed", F.lit(1)), "doc_id", "left")
    )
    want = sorted(
        map(
            tuple,
            flagged.groupBy("lang")
            .agg(
                F.count("*").alias("n_total"),
                F.count(F.when(F.col("is_kept") == 1, 1)).alias("n_exact_kept"),
                F.count(
                    F.when((F.col("is_kept") == 1) & F.col("is_removed").isNull(), 1)
                ).alias("n_final_kept"),
            )
            .collect(),
        )
    )
    assert got == want


def test_typical_day_cube_form_identical(spark):
    """r11 cube-form contract: the single-pass (keys, date, trips) cube
    battery with weighted fixed-point moments must return rows BIT-identical
    to the broadcast two-pass form at any scale (the size routing picks
    broadcast below the crossover, so small-SF oracle runs never exercise
    the cube path — this pins it directly)."""
    from lakehouse_spain_mobility_spark.queries.core import q_typical_day

    a = sorted(
        tuple(r) for r in q_typical_day(spark, SF_DIR_ORACLE, form="broadcast").collect()
    )
    b = sorted(
        tuple(r) for r in q_typical_day(spark, SF_DIR_ORACLE, form="cube").collect()
    )
    assert a == b and len(a) > 0


# --- gold refresh (BQ2/BQ3): no Python worker --------------------------------
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


@pytest.fixture(scope="module")
def refresh_wh(spark, tmp_path_factory):
    """The tables the BQ2/BQ3 refresh reads, at a few rows each."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh_refresh_plans")))
    mitma.ensure_tables(wh)
    wh.replace_partition(
        mitma.SILVER_TABLE,
        spark.createDataFrame(
            [(datetime.date(2023, 2, 1), 8, "4625001001", "4625101001", 50.0, 1)],
            mitma.SILVER_SCHEMA,
        ),
        "date",
    )
    gold = [
        (wkt, sec, dist, muni, prov, cca, None, None, year)
        for wkt, sec, dist, muni, prov, cca, year in fx.geometry_rows()
    ]
    wh.create_or_replace(geometry.GOLD_TABLE, spark.createDataFrame(gold, geometry.SILVER_SCHEMA))
    wh.create_or_replace(
        economy.SILVER_TABLE,
        spark.createDataFrame(
            [(m, m + "01", m + "01001", fx.YEAR, 20000.0) for m in fx.MUNI_CODES],
            economy.SILVER_SCHEMA,
        ),
    )
    wh.create_or_replace(
        population.SILVER_TABLE,
        spark.createDataFrame([(m, fx.YEAR, 1000) for m in fx.MUNI_CODES], population.SILVER_SCHEMA),
    )
    return wh


def test_municipality_centroids_plan_one_partition_local_relation(refresh_wh):
    centroids = geometry.municipality_centroids(refresh_wh)
    plan = pi.executed_plan(centroids)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert centroids.rdd.getNumPartitions() == 1


def test_gold_refresh_frames_run_no_python_udf(refresh_wh):
    """The frames BQ2 and BQ3 write (centroids, distances, the trip and
    economy rollups, the assembled gravity data and the long-trip
    dependency) plan no Python evaluation node: a Python UDF would start
    worker processes in every refresh."""
    wh = refresh_wh
    centroids = geometry.municipality_centroids(wh)
    distances = gravity_bq.municipality_distances(centroids)
    trips = gravity_bq.trips_by_municipality(wh)
    frames = {
        "centroids": centroids,
        "distances": distances,
        "trips_by_municipality": trips,
        "economy_by_municipality": gravity_bq.economy_by_municipality(wh, fx.YEAR),
        "gravity_data": assemble_gravity_data(
            distances,
            gravity_bq.population_dim(wh, fx.YEAR),
            gravity_bq.economy_by_municipality(wh, fx.YEAR),
            trips,
        ),
        "long_trip": long_trip_dependency(trips, centroids, origin_filter=F.lit(True)),
    }
    for name, df in frames.items():
        plan = pi.executed_plan(df)
        assert not [n for n in _PYTHON_NODES if n in plan], (name, plan)
    # the check sees a pandas UDF where there is one
    udf = wh.read(geometry.GOLD_TABLE).select(spatial.st_centroid(F.col("geometry")))
    assert "ArrowEvalPython" in pi.executed_plan(udf)


def test_exact_sum_is_two_long_sums(spark):
    """One exact sum is its hi and lo long SUMs and nothing more: ANSI
    mode raises on overflow, so no COUNT, MAX or RAISE_ERROR envelope is
    compiled into the aggregate. BQ1's 3σ window computes each moment
    once: one Window node with the four SUMs of Σx and Σx² and one COUNT."""
    from lakehouse_spain_mobility_spark.functions.deterministic import xdsum
    from lakehouse_spain_mobility_spark.operators.outlier_stats import (
        sigma_filtered_stats_window,
    )

    df = spark.createDataFrame([("a", 1.5, "2023-01-01")], "k string, v double, d string")
    plan = pi.optimized_plan(df.groupBy("k").agg(xdsum("v").alias("s"))).lower()
    assert plan.count("sum(") == 2, plan
    assert not [f for f in ("max(", "count(", "raise_error") if f in plan], plan

    plan = pi.optimized_plan(sigma_filtered_stats_window(df, ["k"], "v", "d")).lower()
    windows = [line for line in plan.splitlines() if "window [" in line]
    assert len(windows) == 1, plan
    assert windows[0].count("windowspecdefinition") == 5, windows[0]
    assert windows[0].count("sum(") == 4 and "raise_error" not in plan, windows[0]
