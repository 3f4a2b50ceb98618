"""Plan-shape regression tests: the physical plans the scale design
depends on must not silently degrade (a broadcast flipping to a
sort-merge join, or a pruned scan flipping to a full scan, is a scale
bug even when results stay correct)."""

from __future__ import annotations

from converttovectordb_spark.plans import physical_plan
from converttovectordb_spark.queries import (
    q_contamination_screen,
    q_nation_trade_flow,
    q_region_revenue,
)

SF_DIR = "/root/testdata/sf0.001"

# Tables whose size is constant at every scale factor — the only base
# relations allowed to carry a hard broadcast hint. Everything else
# (orders/customer/supplier/lineitem/documents/...) scales with SF and
# must be left to AQE's size-based choice.
FIXED_SIZE_TABLES = ("nation.parquet", "region.parquet")


def broadcast_hinted_leaves(df) -> list[str]:
    """Source paths of every leaf relation under a ResolvedHint in the
    analyzed logical plan — i.e. the base tables a hard ``F.broadcast``
    pins, resolved to the parquet files they scan."""
    out = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "ResolvedHint":
            leaves = node.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                try:
                    paths = leaf.relation().location().rootPaths()
                    out.extend(
                        str(paths.apply(j)) for j in range(paths.size())
                    )
                except Exception:
                    out.append(leaf.toString())  # non-file leaf
            continue  # don't descend: one hit per hint subtree
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


def assert_hints_only_on_fixed_dims(df):
    for leaf in broadcast_hinted_leaves(df):
        assert any(t in leaf for t in FIXED_SIZE_TABLES), (
            "broadcast hint pinned to an SF-scaled relation — "
            "a scale-killer at the 100 TB design point:\n" + leaf
        )


def test_nation_trade_flow_hints_only_fixed_dims(spark):
    df = q_nation_trade_flow(spark, SF_DIR)
    # the two nation aliases are hinted; supplier/orders/customer are not
    hinted = broadcast_hinted_leaves(df)
    assert len(hinted) == 2
    assert_hints_only_on_fixed_dims(df)
    # at tiny SF the static planner still picks broadcasts from file
    # sizes — the fact table needn't shuffle here even hint-free
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan


def test_region_revenue_hints_only_fixed_dims(spark):
    df = q_region_revenue(spark, SF_DIR)
    hinted = broadcast_hinted_leaves(df)
    assert len(hinted) == 2  # nation + region only
    assert_hints_only_on_fixed_dims(df)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan


def test_tpch_family_no_hint_on_sf_scaled_side(spark):
    """The five queries the r5 verdict flagged (plus cust_with_returns,
    fixed in the same pass) must not pin a broadcast to any SF-scaled
    relation; AQE chooses from measured sizes instead."""
    from converttovectordb_spark.queries import (
        q_cust_no_orders,
        q_cust_with_returns,
        q_dedup_corpus,
        q_large_volume_orders,
        q_neardup_clusters,
        q_shipping_priority,
    )

    for q in (
        q_cust_no_orders,
        q_shipping_priority,
        q_large_volume_orders,
        q_cust_with_returns,
    ):
        df = q(spark, SF_DIR)
        assert broadcast_hinted_leaves(df) == [], q.__name__
    # the dedup materializers join cluster-scaled sets — also hint-free
    for q in (q_neardup_clusters, q_dedup_corpus):
        df = q(spark, SF_DIR)
        assert_hints_only_on_fixed_dims(df)


def test_contamination_screen_broadcasts_benchmark(spark):
    plan = physical_plan(q_contamination_screen(spark, SF_DIR))
    # the benchmark shingle set is the broadcast side; the corpus is
    # never shuffled on text
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_quality_is_two_projections_no_agg(spark):
    from converttovectordb_spark.queries import q_gopher_quality

    plan = physical_plan(q_gopher_quality(spark, SF_DIR))
    # pure map-side signals: no aggregation, no join, and the only
    # exchange is the small-file spread repartition (never a hash
    # partitioning keyed on data)
    assert "HashAggregate" not in plan
    assert "Join" not in plan
    assert "hashpartitioning" not in plan


def test_hybrid_rrf_arms_are_topk_not_global_sort(spark):
    from converttovectordb_spark.queries import q_hybrid_rrf

    plan = physical_plan(q_hybrid_rrf(spark, SF_DIR))
    # each arm reduces via TakeOrderedAndProject before the rank
    # window; a global Sort of either corpus would be a scale bug.
    # (The final FULL OUTER fusion of the two ≤50-row rank lists is a
    # SortMergeJoin by necessity — Spark cannot broadcast full outer —
    # and is trivially small by construction.)
    assert plan.count("TakeOrderedAndProject") >= 2


def test_tfidf_df_join_broadcasts_nothing_quadratic(spark):
    from converttovectordb_spark.queries import q_tfidf_topterms

    plan = physical_plan(q_tfidf_topterms(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the single-row corpus count joins as a broadcast nested loop
    assert "BroadcastNestedLoopJoin" in plan


def test_vector_topk_probe_is_broadcast_not_literal(spark):
    from converttovectordb_spark.queries import q_vector_topk

    plan = physical_plan(q_vector_topk(spark, SF_DIR))
    # probe rides as a broadcast row; corpus reduces via top-k, not sort
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_repetition_signals_linear_no_cartesian(spark):
    from converttovectordb_spark.queries import q_repetition_signals

    plan = physical_plan(q_repetition_signals(spark, SF_DIR))
    # three explode legs, each partial-aggregated before its exchange;
    # never a quadratic join
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    assert plan.count("HashAggregate") >= 4


def test_quality_funnel_single_aggregate(spark):
    from converttovectordb_spark.queries import q_quality_funnel

    plan = physical_plan(q_quality_funnel(spark, SF_DIR))
    # the funnel adds ONE global aggregate over the gopher signal
    # projections — no join, no per-doc shuffle beyond it
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_discount_bands_disjunction_pushed_to_both_scans(spark):
    """Q19-shape: the OR-of-ANDs must reach BOTH parquet scans as
    pushed filters (per-table disjunct projections), with the common
    conjunct (p_size >= 1) extracted — not evaluated post-join only."""
    from converttovectordb_spark.queries import q_discount_bands

    df = q_discount_bands(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert sum("Or(" in ln for ln in pushed) >= 2  # both scans
    assert any("GreaterThanOrEqual(p_size,1)" in ln for ln in pushed)
    assert broadcast_hinted_leaves(df) == []  # AQE chooses the join


def test_r8_tpch_star_joins_hint_only_fixed_dims(spark):
    """Round-8 TPC-H shapes: broadcast hints may pin only the
    constant-size dims (nation/region); part/supplier/customer/orders
    are SF-scaled and stay AQE-chosen."""
    from converttovectordb_spark.queries import (
        q_market_share,
        q_min_cost_supplier,
        q_product_profit,
    )

    for q, expected_hints in (
        (q_min_cost_supplier, 2),  # nation + region
        (q_market_share, 3),  # nation x2 + region
        (q_product_profit, 1),  # nation
    ):
        df = q(spark, SF_DIR)
        hinted = broadcast_hinted_leaves(df)
        assert len(hinted) == expected_hints, q.__name__
        assert_hints_only_on_fixed_dims(df)


def test_r8_scalar_attach_hints_are_one_row_aggregates(spark):
    """important_parts / top_supplier hint their 1-row scalar
    aggregate (threshold / max) — the hinted subtree must be an
    Aggregate, never a raw SF-scaled relation."""
    from converttovectordb_spark.queries import (
        q_important_parts,
        q_top_supplier,
    )

    for q in (q_important_parts, q_top_supplier):
        df = q(spark, SF_DIR)
        stack = [df._jdf.queryExecution().analyzed()]
        hints = []
        while stack:
            node = stack.pop()
            if node.nodeName() == "ResolvedHint":
                hints.append(node)
                continue
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        assert hints, q.__name__
        for h in hints:
            head = h.child().toString().splitlines()[0]
            if "Aggregate" in head:
                continue  # the 1-row scalar attach
            # any other hint must resolve to a fixed-size dim
            leaves = h.child().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i).toString()
                assert any(
                    t.split(".")[0] in leaf for t in FIXED_SIZE_TABLES
                ), (q.__name__, head, leaf)


def test_r8_window_shapes_shuffle_aggregated_tables_only(spark):
    """min_cost_supplier / dominant_suppliers window over partkey AFTER
    the (partkey, suppkey) aggregate: the big lineitem scan must keep
    its map-side partial aggregate, and the window's exchange must sit
    above a HashAggregate (moving pair-table rows), not above a scan."""
    from converttovectordb_spark.queries import (
        q_dominant_suppliers,
        q_min_cost_supplier,
    )

    for q in (q_dominant_suppliers, q_min_cost_supplier):
        plan = physical_plan(q(spark, SF_DIR))
        assert "Window" in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        # partial_ markers prove map-side combine before the exchange
        assert "partial_min" in plan or "partial_sum" in plan, q.__name__


def test_min_cost_supplier_prefilters_supply_aggregate(spark):
    """The SMALL/size<=10 part predicate must reach the supply
    aggregation as a semi-join on lineitem BEFORE the groupBy — the
    aggregate, window exchange, and supplier join then carry only the
    qualifying partkeys (r7 review finding #3), and the pre-agg filter
    must not cost the map-side combine."""
    from converttovectordb_spark.queries import q_min_cost_supplier

    plan = physical_plan(q_min_cost_supplier(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "partial_min" in plan
    # the semi-join must sit BELOW the partial aggregate. The simple
    # tree prints parents before children, so the partial_min
    # HashAggregate (the parent) must appear BEFORE its LeftSemi child
    # — a regression hoisting the part filter back above the
    # aggregation would print the join first (both markers would still
    # be present, so mere containment checks can't catch it).
    assert plan.index("partial_min") < plan.index("LeftSemi"), plan


def test_semantic_dedup_pair_join_is_bucketed_not_cross(spark):
    """SemDeDup's pair space must be the in-cluster equi-join
    (Sigma cluster^2), never an all-pairs product."""
    from converttovectordb_spark.queries import q_semantic_dedup

    plan = physical_plan(q_semantic_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_logprob_stream_condensed_before_every_exchange(spark):
    """Heavy-hitter safety: the raw token stream must meet a partial
    aggregation (per-(doc, token) multiplicities, map-side combined)
    BEFORE any exchange, and no count window over the token may exist —
    a window PARTITIONed BY tok would buffer every occurrence of the
    hottest token ('the', 3-5% of a natural corpus) in one
    unsplittable task at 100 TB. All shuffles carry condensed rows;
    the only join-side residual hot key is one row per doc, which AQE
    skew-join can split (windows cannot)."""
    from converttovectordb_spark.queries import q_unigram_logprob

    plan = physical_plan(q_unigram_logprob(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange hashpartitioning" in line:
            below = "".join(lines[i + 1 : i + 3])
            assert "Generate explode" not in below, (
                "raw token stream crosses an exchange unaggregated:\n"
                + plan
            )
    # the stream's first touch is the multiplicity aggregate
    assert "HashAggregate(keys=[doc_id" in plan, plan


def test_knn_label_prop_broadcasts_seeds_corpus_never_shuffles(spark):
    """The seed side (small by annotation-budget construction) must be
    the broadcast build side; the corpus reaches the rank window
    having moved only through the partial WindowGroupLimit (k rows per
    vector per partition), never a sort-merge or cartesian path."""
    from converttovectordb_spark.queries import q_knn_label_prop

    plan = physical_plan(q_knn_label_prop(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    # Spark 4's rank-limit pushdown keeps the per-partition top-k
    # ahead of the exchange — the property that bounds shuffled bytes
    # to k rows per vector
    assert "WindowGroupLimit" in plan


def test_curation_pipeline_no_tokenize_reinlined_into_filters(spark):
    """The composed curation lineage (gopher filter → substring cut →
    temperature weights → sequence pack) must keep its tokenize/line
    arrays in materialized projections across the stage boundaries: a
    predicate over computed quality signals would otherwise push below
    the projections and re-inline every array into the scan filter
    (codegen does not CSE across HOF lambdas — the survivor filter
    crosses a Generate barrier precisely to stop this). Pinned both
    ways: the pipeline plan has NO split()/tokenize inside a Filter or
    scan, while the naive keep-filter formulation provably does."""
    from pyspark.sql import functions as F

    from converttovectordb_spark.queries import (
        _gopher_quality_frame,
        _spread,
        load,
        q_curation_pipeline,
    )

    plan = physical_plan(q_curation_pipeline(spark, SF_DIR))
    offenders = [
        line
        for line in plan.splitlines()
        if ("Filter" in line or "FileScan" in line) and "split(" in line
    ]
    assert not offenders, "tokenization sank into a filter/scan:\n" + "\n".join(
        offenders
    )
    # the barrier is a Generate the predicate cannot cross
    assert "Generate explode" in plan

    # control: the naive formulation re-inlines the arrays — if this
    # stops failing, Catalyst learned CSE here and the barrier (plus
    # this test) can be retired
    docs = _spread(spark, load(spark, SF_DIR, "documents"))
    naive = (
        _gopher_quality_frame(docs).filter(F.col("keep")).select("doc_id")
    )
    nplan = physical_plan(naive)
    n_inlined = sum(
        line.count("split(")
        for line in nplan.splitlines()
        if "Filter" in line or "FileScan" in line
    )
    assert n_inlined > 2, nplan


def test_funnel_stage_filters_reach_the_scans(spark):
    """r12 funnel: each stage's event_type equality must land in the
    parquet scan's PushedFilters (the 100 TB claim is that a stage
    reads ITS event type's row groups, not the whole stream), and the
    only hard broadcast hint is the 1-row entered-count attach."""
    from converttovectordb_spark.queries import q_funnel_conversion

    df = q_funnel_conversion(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    for stage in ("view", "click", "purchase"):
        assert any(
            f"EqualTo(event_type,{stage})" in ln for ln in pushed
        ), stage
    # the only hard hint is the 1-row entered-count attach — the hinted
    # subtree must be an Aggregate, never a raw SF-scaled relation
    # (the r8 scalar-attach convention)
    stack = [df._jdf.queryExecution().analyzed()]
    hints = []
    while stack:
        node = stack.pop()
        if node.nodeName() == "ResolvedHint":
            hints.append(node)
            continue
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    assert hints
    for h in hints:
        assert "Aggregate" in h.child().toString().splitlines()[0]


def test_retention_cohorts_no_cartesian_no_hinted_base(spark):
    """r12 retention: user-dimension joins only — no cartesian, and no
    hard hint on an SF-scaled base relation."""
    from converttovectordb_spark.queries import q_retention_cohorts

    df = q_retention_cohorts(spark, SF_DIR)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert broadcast_hinted_leaves(df) == []


def test_hybrid_q1_plan_has_no_python_map(spark, tmp_path):
    """The one hybrid door picks its scan kernels from the batch size:
    one query runs the JVM fold and BM25 arms (no Python worker), and
    Q>1 scores the semantic arm with the `knn_join_blas` map."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def alpha():\n    return 1\n" * 20)
    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(16),
        dim=16,
        chunk_size=200,
        overlap=20,
    )
    eng.ingest(str(repo))
    q1 = physical_plan(eng.search_hybrid("alpha return"))
    q2 = physical_plan(eng.search_hybrid_batch(["alpha", "return"]))
    assert "MapInPandas" not in q1 and "MapInArrow" not in q1
    assert q2.count("MapInPandas") == 1
