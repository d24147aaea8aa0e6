"""Physical-plan regression tests: pushdown, pruning, broadcast, codegen.

These assert the *plan shape* the 100 TB design depends on — a query can be
value-correct and still have lost its pushdown or broadcast; that's a
regression this file catches (SURVEY.md §4)."""

from __future__ import annotations

import re

import pytest

from cosmo_spark.plans import explain
from cosmo_spark.plans.explain import (
    executed_plan,
    physical_plan,
    plan_has,
    pushed_filters,
    scan_read_schema,
)
from cosmo_spark.queries import all_queries

# heavyweight Spark suite: deselected by the default `addopts` fast set so
# the driver's verify completes inside its window (r13 verdict #7); run via
# `pytest -m slow` or the full suite via `pytest --override-ini addopts= tests/`
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return all_queries()


@pytest.fixture
def query_frames():
    """``query_frames(build)`` -> the frame ``build()`` returns plus every
    frame it localCheckpointed on the way (the recorder
    ``tools/plan_report.py`` counts with too)."""
    return explain.query_frames


def test_q01_filter_pushed_and_columns_pruned(spark, qs):
    df = qs["q01_pricing_summary"].spark_fn(spark, SF)
    # shipdate predicate reaches the parquet scan
    assert "l_shipdate" in pushed_filters(df)
    # scan reads only the 7 needed columns, not all 11
    cols = set(scan_read_schema(df))
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"} <= cols


def test_q05_dimension_joins_broadcast(spark, qs):
    df = qs["q05_broadcast_enrich"].spark_fn(spark, SF)
    assert plan_has(df, "BroadcastHashJoin", absent=("SortMergeJoin",)) == []


def test_q07_semi_join_broadcast(spark, qs):
    df = qs["q07_semi_join"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # p_size predicate pushed to the part scan
    assert "p_size" in pushed_filters(df)


def test_q04_no_single_partition_window(spark, qs):
    # the 2σ rule must be a broadcast scalar aggregate, not a window over an
    # empty partition (single-partition exchange — SURVEY §7 hard part b)
    df = qs["q04_sigma_outliers"].spark_fn(spark, SF)
    assert plan_has(df, "BroadcastNestedLoopJoin", absent=("Window",)) == []


def test_whole_stage_codegen_everywhere(spark, qs):
    # the fact-table scan path must be inside WholeStageCodegen; under AQE
    # the codegen annotation only exists on the executed (final) plan
    # q03 is excluded: it returns 0 rows at sf0.001 and AQE rewrites the whole
    # final plan to EmptyRelation (itself a good scale behavior)
    for name in ["q01_pricing_summary", "q06_orders_by_segment", "q11_histogram"]:
        df = qs[name].spark_fn(spark, SF)
        # formatted mode marks codegen'd operators with "codegen id : n"
        assert "codegen id" in executed_plan(df), name


def test_q03_join_filters_pushed_both_sides(spark, qs):
    df = qs["q03_compound_filter"].spark_fn(spark, SF)
    pf = pushed_filters(df)
    assert "l_quantity" in pf and "o_orderstatus" in pf


def test_shingle_table_stays_staged(spark):
    """The token-hash transform must appear exactly once in the optimized
    plan.  If CollapseProject or a pushed predicate re-inlines it into the
    per-shingle lambda, hashing becomes O(tokens²) (the 20x regression
    documented in operators/dedup.py)."""
    from cosmo_spark.operators.dedup import shingle_table
    from cosmo_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    sh = shingle_table(d, "text", "doc_id")
    optimized = sh._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("ascii") == 1, (
        f"token hashing inlined {optimized.count('ascii')} times"
    )


def test_q20_shuffle_carries_hash_not_text(spark, qs):
    # exact dedup must shuffle the hash, never the document text
    df = qs["q20_exact_dedup"].spark_fn(spark, SF)
    plan = physical_plan(df)
    ex = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
    assert ex and all("text_hash" in ln for ln in ex), ex


def test_q51_region_fanout_is_hash_join(spark, qs):
    """The 11-region dark fan-out must be a BroadcastHashJoin keyed on the
    segment with the range bounds as join filters — NOT a nested-loop over
    every (event, region) pair, and never a sort-merge."""
    df = qs["q51_dark_region_catalog"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_q44_ivf_corpus_join_broadcast_probes(spark, qs):
    """IVF probe set (queries x nprobe buckets) broadcasts into the bucketed
    corpus; the corpus itself must not sort-merge."""
    df = qs["q44_ivf_ann"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q58_vocab_join_hot_keys_broadcast(spark, qs):
    """q58's token->vocab dictionary join is Zipf-skewed; the hot-key branch
    must be a broadcast hash join (map-side), never a plain shuffle join
    carrying stopword keys into single reducers."""
    df = qs["q58_rare_word_score"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan  # the cold-tail split is in the plan


def test_q58_vocab_materialised_once(spark, qs):
    """The vocab aggregation feeds three consumers inside the hot/cold join;
    it is materialised once (localCheckpoint), so every branch reads the
    vocab table (``w``, ``cf``) from a checkpoint scan and the corpus-scale
    count-by-word aggregation is not re-planned in any branch: the only
    aggregation left in the query is the per-document one."""
    df = qs["q58_rare_word_score"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert re.search(r"Scan ExistingRDD[^\n]*\nOutput \[2\]: \[w#\d+, cf#", plan)
    agg_keys = re.findall(r"^Keys \[\d+\]: \[([^\]]*)\]", plan, re.M)
    assert agg_keys and all(k.startswith("doc_id#") for k in agg_keys), agg_keys


def test_q59_eval_grams_broadcast_no_text_in_shuffle(spark, qs):
    """q59's eval n-gram set must broadcast (contamination check rides the
    corpus scan map-side) and no exchange may carry the text column — only
    gram hashes move."""
    df = qs["q59_decontaminate"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line


def test_q10_top1_is_partial_aggregate_not_window(spark, qs):
    """latest_per_key resolves winners map-side: the plan must carry a
    max_by hash aggregate and NO per-key row_number window."""
    for q in ("q10_latest_per_key", "q26_version_merge"):
        df = qs[q].spark_fn(spark, SF)
        plan = physical_plan(df)
        assert "max_by" in plan, q
        assert "row_number" not in plan, q


def test_q40_argmin_is_partial_aggregate_not_window(spark, qs):
    df = qs["q40_nearest_event"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "min_by" in plan
    assert "row_number" not in plan


def test_q32_topk_is_two_phase(spark, qs):
    """Grouped top-k must rank locally per (query, input partition) before
    the per-query reduction — two row_number windows, the first keyed by
    SPARK_PARTITION_ID, so a handful of queries never funnels every scored
    pair into a handful of reducers."""
    df = qs["q32_cosine_topk"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert plan.lower().count("row_number") >= 2
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan


def test_q63_no_corpus_scale_window(spark, qs):
    """Corpus mixing's ordered cumsum must only ever run over the bounded
    bucket table and the single boundary bucket — the windows in the plan
    partition by (source) over 256 bucket rows and (source, bucket) over
    one bucket's docs; no window may partition the raw corpus by source
    alone on document rows."""
    import re

    df = qs["q63_source_mixing"].spark_fn(spark, SF)
    plan = physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the plan"
    # doc-level windows order by (h, doc_id); every one of them must also
    # partition by bucket (the boundary-bucket window over 1/256th of a
    # source).  Source-only windows are the 256-row bucket cumsums.
    doc_specs = [s for s in specs if "doc_id" in s]
    assert doc_specs and all("bucket" in s for s in doc_specs)


def test_q65_entropy_is_map_only(spark, qs):
    """Token entropy must compute row-locally: a plan with any Exchange
    means the run-length fold regressed to an explode/groupBy shuffle."""
    df = qs["q65_token_entropy"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "Exchange" not in plan
    assert "Scan parquet" in plan or "FileScan" in plan


def test_q66_pairs_expand_rowlocal_not_selfjoin(spark, qs):
    """Cross-source overlap must collapse spans to (h, source set) and
    expand pairs row-locally — a SortMergeJoin on span hash is the
    quadratic-on-hot-spans shape the oracle uses but the engine must not."""
    df = qs["q66_source_overlap"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "collect_set" in plan
    assert "SortMergeJoin" not in plan
    # the per-source inventory joins broadcast onto the pair table
    assert "BroadcastHashJoin" in plan


def test_q67_no_window_no_sort(spark, qs):
    """Epoch batching must stay a pure hash aggregate: no global sort, no
    rank window — deterministic order comes from the keyed hash."""
    df = qs["q67_epoch_batches"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "row_number" not in plan
    # exactly one aggregation exchange (48 groups), partial-aggregated
    assert plan.count("(Exchange") + plan.count("+- Exchange") == 1
    assert "partial_count" in plan and "partial_sum" in plan


def test_q68_centroids_broadcast_corpus_unshuffled(spark, qs):
    """Centroid arrays and per-label stats must broadcast back onto the
    embeddings; the corpus itself shuffles only as (label, dim) partial
    aggregates, never as whole vectors."""
    df = qs["q68_centroid_outliers"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q69_idf_join_hot_keys_broadcast_no_rank_window(spark, qs):
    """tf-idf must route the Zipf-skewed term join through the hot/cold
    split (broadcast hot dictionary) and rank keywords row-locally —
    never with a corpus-wide row_number window."""
    df = qs["q69_tfidf_keywords"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "row_number" not in plan
    assert "partial_count" in plan


def test_q70_no_text_in_any_exchange(spark, qs, query_frames):
    """The corpus-build funnel's shuffles must carry hashes/flags/counts
    only — the raw document text must never cross an exchange (of the
    returned frame or of any frame the query checkpoints)."""
    import re

    frames = query_frames(lambda: qs["q70_corpus_build"].spark_fn(spark, SF))
    plan = "\n".join(physical_plan(f) for f in frames)
    # formatted plan: each Exchange node is followed by an Input [..] line
    for m in re.finditer(r"\(\d+\) Exchange\n(Input \[[^\n]*)", plan):
        assert "text#" not in m.group(1), m.group(1)
    # eval gram set broadcasts; decontam rides a semi-join
    assert "LeftSemi" in plan


def test_q71_bloom_bitset_broadcast_then_exact_semi(spark, qs):
    """The bloom decontamination must build the bitset with a map-side
    bit_or aggregate, broadcast it (nested-loop with a 1-row build is the
    scalar-attach shape), prefilter map-side, then exact-verify with a
    real semi-join."""
    df = qs["q71_bloom_decontaminate"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "bit_or" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bitset attach
    assert "LeftSemi" in plan                 # exact re-check survives


def test_q72_split_rowlocal_and_leak_broadcast(spark, qs):
    """Split membership must be a row-local hash (no join to a split
    assignment table) and the 3-row leak table must broadcast onto the
    3-row stats table — no sort-merge anywhere."""
    df = qs["q72_split_leakage"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "collect_set" in plan
    assert "SortMergeJoin" not in plan


def test_q74_no_corpus_scale_global_window(spark, qs):
    """Sequence packing's running total must be the two-level form: every
    window spec ordering document rows (h, doc_id) partitions by the
    static hash bucket; the only unpartitioned window is the bucket-offset
    cumsum over n_buckets rows."""
    import re

    df = qs["q74_pack_sequences"].spark_fn(spark, SF)
    plan = physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    doc_specs = [s for s in specs if "doc_id" in s]
    assert doc_specs and all("__bucket" in s for s in doc_specs), doc_specs


def test_q77_pii_scan_is_map_only(spark, qs):
    # row-local regexp scan: no exchange of any kind in the plan
    df = qs["q77_pii_scan"].spark_fn(spark, SF)
    assert "Exchange" not in physical_plan(df)


def test_q76_pair_counts_aggregate_vocab_first(spark, qs):
    # the corpus must collapse to the word-frequency aggregate BEFORE any
    # per-character pair explode: the explode sits above a HashAggregate,
    # and the final top-20 is a TakeOrdered, not a global sort exchange
    df = qs["q76_bpe_pair_counts"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    import re

    gen_inputs = re.findall(
        r"\(\d+\) Generate\n(?:.*\n)*?Input \[\d+\]: \[([^\]]*)\]", plan
    )
    assert any("freq" in g for g in gen_inputs), gen_inputs


def test_q75_assignment_is_broadcast_maxby_not_window(spark, qs, query_frames):
    # nearest-centroid assignment: broadcast join + partial max_by — the
    # corpus must never hit a per-vector row_number window (the assignment
    # is checkpointed, so its plan is one of the recorded frames)
    frames = query_frames(lambda: qs["q75_semantic_dedup"].spark_fn(spark, SF))
    plan = "\n".join(physical_plan(f) for f in frames)
    assert "BroadcastNestedLoopJoin" in plan and "max_by" in plan
    assert "Window" not in plan


def test_q80_corpus_window_is_keyed(spark, qs):
    # the global rank must decompose: the corpus-side row_number partitions
    # by n_chars (keyed shuffle), and at most ONE unpartitioned window
    # exists — the cumulative sum over the tiny histogram frame
    df = qs["q80_quality_deciles"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "windowspecdefinition(n_chars" in plan
    import re

    unpartitioned = [
        m for m in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if m.startswith("n_chars ASC")  # ordered-only spec = no partition cols
    ]
    assert len(unpartitioned) <= 1, unpartitioned


def test_q81_covariance_exchange_carries_cells_only(spark, qs):
    # the exchange below the covariance aggregate carries d² (i, j,
    # partial-sum) cells from the Arrow dgemm stage (round-11 kernel) —
    # never the raw vectors; exactly one Arrow stage feeds it
    df = qs["q81_embedding_covariance"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "MapInPandas" in plan and "posexplode" not in plan, plan
    import re
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m, f"raw vectors in exchange key: {m}"


def test_q82_fingerprint_computed_below_join(spark, qs):
    # the xxhash64 row fingerprint must compute map-side (in the projection
    # below the join), so the full-outer join carries (key, hash) only
    df = qs["q82_snapshot_diff"].spark_fn(spark, SF)
    plan = physical_plan(df)
    join = plan.index("SortMergeJoin")
    assert "xxhash64" in plan[join:], "fingerprint must be below the join"
    import re
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m


def test_q91_novelty_shuffles_carry_hashes_only(spark, qs):
    """Span novelty must never shuffle text: exchanges carry (doc_id, h)
    BIGINTs, and no window runs over the span table (both aggregations
    are partial-combining groupBys)."""
    import re

    df = qs["q91_span_novelty"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "windowspecdefinition" not in plan
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m, f"text column in exchange key: {m}"


def test_q92_funnel_no_per_user_window(spark, qs):
    """The funnel's only window runs over the 3-row step summary — never a
    per-user ordered window over raw events."""
    import re

    df = qs["q92_funnel_conversion"].spark_fn(spark, SF)
    plan = physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the step-summary window"
    assert all("user_id" not in s and "ts" not in s for s in specs), specs


def test_q93_ri_audit_dimension_parents_broadcast(spark, qs):
    """Dimension-sized parent keys (nation/region) must broadcast into
    their audit joins; no nested-loop join anywhere."""
    df = qs["q93_ri_audit"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_family_compiles_under_no_fallback(spark, qs):
    """Round-5 verdict #1 regression gate: every generated method in the PQ
    family must fit Janino's 64 KB limit and actually COMPILE.  With
    spark.sql.codegen.fallback=false a failed whole-stage compile raises
    instead of silently executing interpreted — the exact defect the
    scalar-cell encode rewrite fixed (the old array-staged encode failed
    here; 6.2 s -> 1.6 s after, COVERAGE.md round 6).

    Guard validity: .count() would prune the encode columns away, so each
    query is forced through a full .collect() of its real output."""
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in [
            "q86_pq_encode",
            "q87_pq_adc_search",
            "q88_ivf_pq_search",
            "q90_ivf_pq_residual",
        ]:
            df = qs[name].spark_fn(spark, SF)
            df.collect()  # raises InternalCompilerException on a 64 KB breach
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_q88_q90_query_at_rest_index_not_reencode(spark, qs):
    """Round-5 verdict #3: per-query cost must not include re-encoding the
    corpus.  The q88/q90 plans must scan the materialized pq_index parquet
    (bucket-partitioned at rest) and carry ZERO encode staging columns —
    the __c{s}_{ci} distance cells exist only in the build path."""
    for name in ["q88_ivf_pq_search", "q90_ivf_pq_residual"]:
        df = qs[name].spark_fn(spark, SF)
        plan = physical_plan(df)
        assert "pq_index" in plan, f"{name}: no at-rest index scan"
        assert "__c0_0" not in plan, f"{name}: corpus encode on query path"


def test_no_unbounded_global_windows_anywhere(spark, qs, query_frames):
    """Catalog-wide SCALE.md contract: every global (no-partition) window
    must consume a pre-aggregated/bounded input — O(aggregated), never
    O(corpus).  Covers all ~98 queries (and every frame they checkpoint)
    so a regression in ANY of them fails here by name instead of hiding in
    WindowExec warning noise."""
    from cosmo_spark.plans.explain import unbounded_global_windows

    bad = {}
    for name, q in qs.items():
        try:
            frames = query_frames(lambda: q.spark_fn(spark, SF))
        except Exception:
            continue  # construction errors are other tests' business
        v = [w for f in frames for w in unbounded_global_windows(f)]
        if v:
            bad[name] = v
    assert not bad, bad


def test_q102_no_per_group_fact_sort_window(spark, qs):
    """Round-6 verdict #1: q102 groups `events` by its FIVE event types —
    the few-huge-groups shape where Window.partitionBy(key).orderBy(val)
    collapses to 5 single-task sorts of a fact table.  q102 must route
    through the distributed-median machinery (q104's): no Window node
    partitioned by a single key sorting an unbounded (non-aggregated)
    input may remain anywhere in its plan."""
    from cosmo_spark.plans.explain import single_key_unbounded_sort_windows

    df = qs["q102_robust_outliers"].spark_fn(spark, SF)
    assert single_key_unbounded_sort_windows(df) == []
    # and the checker actually catches the forbidden shape: the window
    # path on the same inputs trips it
    from pyspark.sql import functions as F

    from cosmo_spark.operators.robust import robust_outliers
    from cosmo_spark.sources.tables import load_table

    e = load_table(spark, SF, "events").filter(F.col("value").isNotNull())
    old = robust_outliers(e, "event_type", "value", "event_id", z=3.5)
    assert single_key_unbounded_sort_windows(old), (
        "checker failed to flag the per-group window-sort median"
    )


def test_robust_outliers_distributed_bitwise_equals_window_path(spark):
    """The two robust_outliers paths select the same middle order
    statistics by construction — assert bit-identical outlier sets on a
    heavy-tailed sample so flipping q102 could not change its oracle."""
    from cosmo_spark.operators.robust import robust_outliers

    rows = [("g%d" % (i % 3), i, float(((i * 7919) % 101) - 50) ** 3)
            for i in range(400)]
    df = spark.createDataFrame(rows, "g STRING, id INT, v DOUBLE")
    a = robust_outliers(df, "g", "v", "id", z=2.0).collect()
    b = robust_outliers(df, "g", "v", "id", z=2.0, distributed=True,
                        buckets=16).collect()
    ka = sorted((r.g, r.id, r.v) for r in a)
    kb = sorted((r.g, r.id, r.v) for r in b)
    assert ka == kb and len(ka) > 0


def test_q100_pagerank_iterations_truncate_lineage(spark, qs):
    """The power-iteration loop must materialize the edge table and each
    round's node-sized rank vector (localCheckpoint — the q45/q97
    iterative discipline), so the FINAL action's plan contains only the
    last round: checkpointed RDD scans, and NO parquet rescan of
    orders⋈lineitem (a fused 5-iteration DAG measured 11.3 s vs ~1.5 s
    at sf0.1 from per-stage AQE re-planning)."""
    df = qs["q100_pagerank"].spark_fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan and "Scan parquet" not in plan


def test_q116_triangle_joins_are_hash_equi_joins(spark, qs, query_frames):
    """The wedge enumeration and closing joins must be hash/sort-merge
    EQUI-joins on node keys — a BroadcastNestedLoop or CartesianProduct
    here means the orientation inequality leaked into the join keys and
    the plan degenerated to all-pairs.  The DOULION sampling filter must
    also reach the pairs self-join (pre-distinct), not run post-hoc.  The
    edge, degree and oriented tables are checkpointed, so their plans are
    among the recorded frames."""
    frames = query_frames(lambda: qs["q116_triangle_count"].spark_fn(spark, SF))
    plan = "\n".join(physical_plan(f) for f in frames)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # sampling predicate fused into the lineitem self-join condition
    assert "1000003" in plan


def test_q122_fusion_join_no_corpus_window(spark, qs):
    """Both retrieval lists go through the two-phase top-k; the only
    cartesian in the plan is the q32-style broadcast of the 4 probe
    vectors against the corpus (the documented ADC/brute-force
    primitive), never a corpus x corpus product."""
    import re

    df = qs["q122_hybrid_rrf_search"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert plan.count("CartesianProduct") == 0
    # the probe-side cross join must be a BROADCAST nested loop (tiny
    # side shipped), and only for the embedding brute-force primitive
    # (formatted explain prints every operator twice — tree + detail —
    # so count the detail headers)
    bnlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj) <= 1, plan


def test_no_cartesian_product_anywhere(spark, qs, query_frames):
    """Catalog-wide join-shape contract (the window gate's sibling): a
    CartesianProduct node means BOTH sides of a cross join were too big
    to broadcast — at corpus scale that is quadratic I/O no matter what
    follows it.  Every intentional cross join in the catalog is a
    broadcast one (global-stat scalars cross-joined back, the q32/q87
    brute-force primitives), which plans as BroadcastNestedLoopJoin;
    surveyed at round 7: 23 queries carry BNLJ, zero carry
    CartesianProduct — this keeps it that way, failing by query name
    (every frame a query checkpoints is checked too)."""
    import re

    bad = {}
    for name, q in qs.items():
        try:
            frames = query_frames(lambda: q.spark_fn(spark, SF))
        except Exception:
            continue  # construction errors are other tests' business
        plan = "\n".join(physical_plan(f) for f in frames)
        n = len(re.findall(r"^\(\d+\) CartesianProduct", plan, re.M))
        if n:
            bad[name] = n
    assert not bad, bad


def test_q137_q138_normalization_joins_broadcast(spark, qs):
    # the transition-probability and MAU joins are against tiny derived
    # frames (|types| / months rows) — they must broadcast, never sort-merge
    for name in ("q137_event_transitions", "q138_dau_mau_stickiness"):
        df = qs[name].spark_fn(spark, SF)
        assert plan_has(df, "BroadcastHashJoin", absent=("SortMergeJoin",)) \
            == [], name


def test_q134_q135_twins_aggregate_before_output(spark, qs):
    # the count twins must end in a hash aggregate over the pair stream —
    # any Sort/Window at the top would mean pairs are being materialized
    # and ranked rather than folded (the whole point of the twin)
    for name in ("q134_editdist_pair_counts", "q135_lsh_pair_counts"):
        df = qs[name].spark_fn(spark, SF)
        plan = physical_plan(df)
        assert "HashAggregate" in plan, name
        assert "Window" not in plan, name


def test_q140_single_python_stage_and_no_blob_shuffle(spark, qs):
    # the media-dedup family pays AT MOST one Arrow Python stage per run:
    # fingerprints resolve through the at-rest store (r9), whose miss
    # decode is materialized eagerly (localCheckpoint) — so the returned
    # plan's lineage starts at the 16-byte checkpointed fingerprints and
    # can never re-trigger the Python stage, and a warm run performs
    # ZERO decode (counter-gated in tests/test_media_fps.py)
    df = qs["q140_image_ahash_dedup"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "MapInPandas" not in plan, (
        "downstream fan-out must read materialized fingerprints, never "
        "a live decode lineage"
    )
    # everything wide (blob/features) is projected away before any
    # exchange: fingerprints shuffle, media bytes never do
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "blob" not in line and "features" not in line, line


def test_q143_aggregates_before_any_window(spark, qs):
    # the HDR sketch's windows/joins run over the ~4k-bucket table, never
    # the fact stream: the plan must carry a hash aggregate below the one
    # window, and the events scan must keep its pushed filters
    df = qs["q143_hdr_quantile_sketch"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "HashAggregate" in plan and "Window" in plan
    # top-down print: the window must sit ABOVE the deepest (scan-side
    # bucket-count) aggregate, i.e. consume its output — never window
    # the raw fact stream
    assert plan.index("Window") < plan.rindex("HashAggregate"), (
        "the cumulative window must run over the bucket-count aggregate"
    )
    assert "value" in pushed_filters(df)


def test_q149_removal_shuffles_carry_bigints_only(spark, qs):
    """Exact-substring removal must never shuffle text (the q91 sibling):
    tokenization happens below the first exchange, every exchange key is
    a BIGINT hash / packed position, and no window runs anywhere — the
    keep-first tiebreak is a min() aggregate, the rebuild is a bounded
    per-document fold."""
    import re

    df = qs["q149_substring_removal"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "windowspecdefinition" not in plan
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m, f"text column in exchange key: {m}"


def test_q150_scoring_is_map_only_single_exchange(spark, qs):
    """The trained-classifier scoring path is a map-only expression over a
    broadcast weight literal: no join, no window, and exactly ONE exchange
    — the partial-combined <=10-group calibration aggregate."""
    df = qs["q150_quality_classifier"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan, "scoring must not join"
    assert "windowspecdefinition" not in plan
    import re

    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex == 1, f"expected the single calibration exchange, got {n_ex}"


def test_q152_probe_join_broadcasts_counters(spark, qs):
    """The CMS horizon probe joins a handful of exploded probe rows
    against the merged 4x1024 counter table — the counter side must
    broadcast, never sort-merge."""
    df = qs["q152_cms_horizon"].spark_fn(spark, SF)
    assert plan_has(df, "BroadcastHashJoin", absent=("SortMergeJoin",)) == []


def test_q156_word_join_broadcasts_and_no_word_shuffle(spark, qs):
    """The production tokenizer's corpus join: per-word token costs (a
    few bytes per vocabulary entry) must BROADCAST back to the corpus —
    a SortMergeJoin here would shuffle every (doc, word) pair at 100 TB."""
    df = qs["q156_bpe_tokenize_full"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q157_audit_joins_stay_hash_shaped(spark, qs):
    """The partitioned-store audit reads three manifest-pinned versions
    and diffs on the key: no cartesian, no nested-loop — every join is
    hash-keyed (event_id / event_type)."""
    df = qs["q157_partitioned_purge_audit"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert plan.count("CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan


def test_q160_derived_corpus_join_broadcasts(spark, qs):
    """The 4096-rule tokenizer's pricing joins (prefix AND full ladder):
    per-word costs are vocabulary-sized and must BROADCAST back to the
    derived corpus; a SortMergeJoin would shuffle every (doc, word) pair
    at 100 TB.  Exactly two Arrow segmentation stages (prefix + full),
    both over the DISTINCT-word vocabulary."""
    df = qs["q160_bpe_tokenize_1k"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan


def test_q159_emits_locally(spark, qs):
    """q159's output is driver-built rows (prefix + fingerprint) — the
    training itself resolves through the at-rest cache, so the query
    plan must be a LocalTableScan: no corpus scan, no exchange."""
    df = qs["q159_bpe_train_1k"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "Exchange" not in plan
