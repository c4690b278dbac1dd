"""Plan-shape regression tests (SURVEY §5: the reference asserts stage
shapes per query, distributed_plan/planner.rs:49-120; here the equivalents
are Catalyst-plan properties that matter at 100 TB)."""

import pytest

from squirtle_spark.registry import load_all


def _executed_plan(df) -> str:
    df.collect()
    spark = df.sparkSession
    conf_key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(conf_key)
    # render untruncated: the default 100-char cap can cut a FileScan's
    # Location mid-path, hiding the table name from the scan counter
    spark.conf.set(conf_key, "100000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(conf_key, prev)


def _norm_scan_line(line: str) -> str:
    """A FileScan line with expression ids stripped — two equal values
    mean the same table read with the same columns and filters."""
    import re

    return re.sub(r"#\d+", "#", line.strip())


def _scan_counts(plan: str):
    """table name -> number of FileScan nodes reading it.

    Counts only the FINAL plan: an executed AdaptiveSparkPlan's toString
    renders '== Final Plan ==' AND '== Initial Plan ==', so counting the
    whole string doubles every scan (and hides real reuse — a
    ReusedExchange in the final plan is NOT a second scan)."""
    import re
    from collections import Counter

    final = plan.split("== Initial Plan ==")[0]
    return Counter(
        m.group(1)
        for line in final.splitlines()
        if "FileScan parquet" in line
        for m in [re.search(r"/(\w+)\.parquet", line)]
        if m
    )


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name", ["nexmark_q3", "nexmark_q13", "ysb_campaign_views", "tpch_q5"]
)
def test_dimension_joins_broadcast(spark, sf_dir, name):
    """Small/side-input tables must broadcast, not shuffle."""
    df = load_all()[name].spark_fn(spark, sf_dir)
    assert "BroadcastHashJoin" in _executed_plan(df), name


def test_tpch_q6_pushdown_and_pruning(spark, sf_dir):
    """Filters reach the parquet scan; only referenced columns are read."""
    df = load_all()["tpch_q6"].spark_fn(spark, sf_dir)
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_no_cartesian_products(spark, sf_dir):
    """Nothing except the by-design broadcast crossJoins may be cartesian."""
    allowed = {"ann_cosine_topk", "ann_sq8_topk"}  # broadcast 10-query side by design
    for name, q in load_all().items():
        if q.oracle is None or name in allowed:
            continue
        plan = _formatted(q.spark_fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_q21_single_lineitem_scan(spark, sf_dir):
    """r15 rewrite: the EXISTS/NOT EXISTS self-joins collapsed into one
    per-order aggregation — lineitem must be scanned exactly once and
    never broadcast (the old plan broadcast two corpus-scale
    (l_orderkey, l_suppkey) projections of it)."""
    plan = _executed_plan(load_all()["tpch_q21"].spark_fn(spark, sf_dir))
    assert _scan_counts(plan).get("lineitem", 0) == 1, _scan_counts(plan)
    assert "LeftSemi" not in plan and "LeftAnti" not in plan


def test_span_removal_reassembles_without_token_explosion(spark, sf_dir):
    """r16 rewrite: reassembly decides with the per-doc removed-position
    ARRAY and rebuilds text per-row (the position sequence filtered by
    membership in that array) — the pre-r16 form exploded every corpus
    token into a row and re-shuffled all of them as (pos, tok) structs
    through a doc-keyed collect_list + array_sort. Both registered forms
    (batch window-pair and incremental join-pair) share the tail."""
    for name in ["dedup_span_removal", "dedup_span_removal_incremental"]:
        plan = _executed_plan(load_all()[name].spark_fn(spark, sf_dir))
        assert "collect_list(struct(pos" not in plan, name
        assert "collect_list(tpos" in plan, name
        assert "NOT array_contains(rpos" in plan, name


def test_span_family_skips_shingle_exchange(spark, sf_dir):
    """r16: span_pos_sh is matview-distributed by sh, so the doc-frequency
    window over it must NOT re-shuffle by sh (captured HashPartitioning,
    the gopher_repetition distribute_by mechanism). If the exprId-staleness
    hazard documented at catalog.session_matview ever bites here, this
    exchange silently returns — correctness unaffected, win lost."""
    for name in ["dedup_spans", "dedup_span_removal"]:
        plan = _executed_plan(load_all()[name].spark_fn(spark, sf_dir))
        assert "Exchange hashpartitioning(sh#" not in plan, name


def test_tpch_q9_broadcasts_dims(spark, sf_dir):
    """part/supplier/nation are broadcast into the lineitem-side join."""
    plan = _executed_plan(load_all()["tpch_q9"].spark_fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("name", ["nexmark_q3", "nexmark_q4", "nexmark_q9"])
def test_no_single_partition_exchange(spark, sf_dir, name):
    """The auction view must stay a pure projection: a global-sort window
    there would funnel every auction-touching query through ONE task
    (Exchange SinglePartition) — invisible at sf0.1, fatal at 100×."""
    df = load_all()[name].spark_fn(spark, sf_dir)
    assert "Exchange SinglePartition" not in _executed_plan(df), name


# Queries whose plans legitimately contain a single-partition stage: global
# scalar aggregates (the distributed partial agg did the work; one reducer
# merges tiny partials) and scalar subqueries (tfidf's corpus COUNT(*) is
# one row, then broadcast). Anything NOT in this set acquiring a
# SinglePartition exchange is a scale regression.
_GLOBAL_AGG_QUERIES = {
    "agg_global",
    "dq_profile",  # the whole profile IS one global aggregation pass
    "dq_profile_approx_contract",  # composes dq_profile's exact global agg
    # global approx_top_k: per-partition partial sketches, ONE final merge
    "approx_topk_tokens_contract",
    "dq_constraints",  # scan-rule totals are one global aggregation pass
    "funnel_conversion",  # three global COUNT(*) stage totals (tiny partials)
    "mixture_weights",  # corpus-total scalar agg over 5 per-lang rows
    "nexmark_q12_invariant",
    "subq_scalar_in",  # uncorrelated scalar subquery = global agg, then broadcast
    "lm_perplexity",  # corpus-token-total: partial sums over the vocab-sized LM
    "bm25_topk",  # corpus n_docs/avgdl scalar: partial sums over per-doc lengths
    "collocation_pmi",  # corpus n_tok/n_pairs scalar: partial sums over the vocab table
    "benford_digits",  # corpus digit-total scalar: partial sums over 9 digit rows
    "contrastive_pairs",  # corpus-size scalar (the mod base), then broadcast
    "lm_perplexity_bigram",  # corpus vocab-size scalar over the unigram table
    "lm_perplexity_kn",  # bigram-type-count scalar over the bigram table
    "lm_score_new_batch",  # same vocab-size scalar, frozen-model form
    "mixture_temperature",  # languages-sized normalizer scalar (like mixture_weights)
    "hybrid_retrieval_rrf",  # rank fusion over two bounded top-K lists (embeds bm25's scalar)
    "corpus_report",  # the whole report IS corpus-grain scalars
    "dsir_select",  # target/raw model totals: scalars over ≤DSIR_BUCKETS rows
    "ccnet_buckets",  # embeds lm_perplexity's corpus-token-total scalar
    "hard_negatives",  # bm25's corpus n_docs/avgdl scalar (partial sums)
    "quality_scorecard",  # composes lm/dsir entries, inherits their scalars
    "bpe_compression_curve",  # per-round corpus-token-total scalars (partial sums)
    "zipf_slope",  # OLS scalar over the vocab-sized frequency table
    "lsh_quality_report",  # recall scalars over the bounded pair set
    "ann_recall_report",  # truth-total scalar over the N_QUERIES x TOP_K set
    "join_skew_report",  # skew scalars over the per-key count table
    "curation_pipeline",  # embeds lm_perplexity's corpus-total stage
    "text_length_quantiles",
    "tfidf_top_terms",
    "tpch_q6",
    "tpch_q11",
    "tpch_q14",
    "tpch_q15",
    "tpch_q17",
    "tpch_q19",
    "tpch_q22",
}


def test_single_partition_only_in_global_aggs(spark, sf_dir):
    """Repo-wide: no query outside the global-scalar set may funnel data
    through one partition, and none may plan a cartesian product or
    row-at-a-time Python eval."""
    for name, q in load_all().items():
        if q.oracle is None and name not in {"nexmark_q12"}:
            continue
        df = q.spark_fn(spark, sf_dir)
        plan = _executed_plan(df)
        if name not in _GLOBAL_AGG_QUERIES:
            assert "Exchange SinglePartition" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_no_redundant_base_table_scans(spark, sf_dir):
    """Repo-wide (r9): no registered query may scan the SAME base parquet
    table three or more times. Spark inlines multi-referenced CTEs, so a
    SQL body referencing an expensive derived relation k times executes
    it k times — dedup_incremental_minhash's plan carried 13 corpus
    scans before r9's catalog.session_matview conversions; this gate
    keeps a future entry (or a refactor of a converted one) from
    silently reintroducing the redundant-read class.

    r10 made this gate REAL — it had been vacuous since r9: the original
    regex (`FileScan parquet [^\\[]*?(\\w+)\\.parquet`) could never match
    (`[^\\[]*?` dies at the column-list bracket right after "FileScan
    parquet"), so `worst` was 0 for every query and the assert proved
    nothing. Scans are now counted from each FileScan line's Location
    path in the FINAL plan only (the executed AdaptiveSparkPlan's
    toString renders Initial Plan too, which doubles every count),
    rendered untruncated so a long path cannot eat the `.parquet`
    suffix, and the counter SELF-CHECKS against a plan known to scan so
    it can never regress to vacuous.

    Two tiers, both enforced for every registered entry:

    1. HARD, bound 2, no exceptions: no plan may carry 3+ IDENTICAL
       FileScan nodes (same table, columns, filters — ids normalized).
       Identical scans are pure recomputation, exactly the inlined-CTE
       class session_matview exists for (the real corpus_report plan
       carried 3 before its stack()-unpivot rewrite this round).
    2. Per-table totals, bound 2 by default, with a frozen per-entry
       budget (_SCAN_BUDGETS) for the three legitimate multi-scan
       classes below. The budget is each entry's CURRENT need — any
       growth fails the gate, so "whitelisted" entries are still
       regression-gated."""
    from collections import Counter

    # self-check: the counter must SEE scans, or the gate proves nothing
    probe = _scan_counts(_executed_plan(load_all()["tpch_q6"].spark_fn(spark, sf_dir)))
    assert probe.get("lineitem", 0) >= 1, f"scan counter is blind: {probe}"

    for name, q in load_all().items():
        if q.oracle is None and name not in {"nexmark_q12"}:
            continue
        plan = _executed_plan(q.spark_fn(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        ident = Counter(
            _norm_scan_line(line)
            for line in final.splitlines()
            if "FileScan parquet" in line
        )
        worst_ident = max(ident.values(), default=0)
        assert worst_ident <= 2, (
            f"{name} carries {worst_ident} IDENTICAL scans — a "
            f"multi-referenced relation is being recomputed; route it "
            f"through catalog.session_matview"
        )
        budget = _SCAN_BUDGETS.get(name, 2)
        worst_tbl, worst = max(
            _scan_counts(plan).items(), key=lambda kv: kv[1], default=("", 0)
        )
        assert worst <= budget, (
            f"{name} scans {worst_tbl} {worst}x (budget {budget}) — "
            f"either a regression, or a new slice that needs an explicit "
            f"budget + justification in _SCAN_BUDGETS"
        )


#: Frozen per-entry scan budgets for the three legitimate multi-scan
#: classes (tier 2 of test_no_redundant_base_table_scans). Every entry
#: here reads DISTINCT slices (different columns/filters per scan — the
#: identical-scan tier above still applies to them at bound 2):
#:
#: (a) fixture-bridge: bid/auction/person all derive from `events` and
#:     partsupp from `part` (TESTDATA ships no such tables), so a query
#:     joining two entities + a second slice of one of them counts 3
#:     base scans that are 1-per-relation in a real deployment.
#: (b) multi-table models: Kneser-Ney / bigram perplexity genuinely
#:     build unigram+bigram(+trigram) tables and score against each —
#:     k model orders ~= 2k distinct token-stream passes (train+score).
#: (c) report/pipeline compositions: data-card reports, DQ constraint
#:     sets, funnel stages, recall reports over 5 index variants, and
#:     the chained curation manifest each union N genuinely different
#:     metrics/stages over one table. At 100 TB these run as scheduled
#:     reports; the scans are column-pruned and filter-pushed (plan-
#:     asserted elsewhere), and the N is the report's width, not a leak.
_SCAN_BUDGETS = {
    "nexmark_q9": 3,  # (a) auction two-slice + bid, all events-derived
    "tpch_q2": 3,  # (a) partsupp twice (main + correlated MIN) + part
    # (tpch_q21 needed 3 here until the r15 per-order-aggregate rewrite
    # collapsed l1 + EXISTS l2 + NOT EXISTS l3 into ONE lineitem scan)
    # (b) multi-order LM models: distinct column-pruned slices of the
    # text column. MEASURED not to warrant a session matview — eagerly
    # materializing the ~10M-row pairs relation DOUBLES a single query's
    # sf1 wall (kn 9.9 -> 24.8 s); repeated-scoring sessions opt in via
    # the pairs_src/lm_pairs_view hook, pipelines persist tokenize-once.
    "lm_perplexity_bigram": 4,
    "lm_perplexity_kn": 6,
    "lm_score_new_batch": 4,
    "bpe_encode_docs": 3,  # (b) merge table + encode + length stats
    "outlier_mad": 3,  # (c) median, MAD, then score — 3 quantile passes
    "quality_calibration": 3,  # (c) fit on labeled slice, score corpus
    "contrastive_pairs": 3,  # (c) anchor/positive/negative slices
    "collocation_pmi": 3,  # (c) pair + unigram + total passes
    "tfidf_top_terms": 3,  # (c) tf, df, corpus-size passes
    # (hybrid_retrieval_rrf needed 4 here until r10 routed its BM25 leg
    # through the tf/dlen matviews — now 1 documents + 2 embeddings)
    "funnel_conversion": 5,  # (c) one slice per funnel stage
    # (dq_constraints needed 5 until its UNION report became a stack()
    # unpivot in r10 — now genuinely ONE events scan + the FK rule)
    # (ccnet_buckets needed 5 until its unigram LM leg moved onto the
    # ret_tf matview in r10 — now 2: lang join + sample slice)
    "dedup_span_removal_incremental": 5,  # (c) batch + index union legs
    # (c) chained manifest; was 10 before r10 cut its fuzzy/decon/LM legs
    # from the session matviews (exact + quality + tail remain)
    "curation_pipeline": 3,
    "ann_recall_report": 10,  # (c) 5 index variants x query+truth slices
    # (c) 4-family audit composition; was 16 before r10 re-pointed the
    # Spark side at the registered matview-backed legs (oracle unchanged)
    "quality_scorecard": 4,
}


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    """The pure range predicate must ride the bucket equi-join: any
    BroadcastNestedLoopJoin here is O(|L|·|R|) comparisons at scale."""
    plan = _executed_plan(load_all()["range_join_conversions"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_codegen_spans(spark, sf_dir):
    """Hot-path queries stay inside whole-stage codegen."""
    for name in ["tpch_q1", "nexmark_q9", "agg_event_stats"]:
        df = load_all()[name].spark_fn(spark, sf_dir)
        executed = _executed_plan(df)
        assert "*(" in executed or "WholeStageCodegen" in executed, name


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout + a partition-key filter must show up
    as PartitionFilters at the scan (only matching directories read) —
    the layout contract for time/type-partitioned 100 TB corpora."""
    from squirtle_spark import catalog

    catalog.register_all(spark, sf_dir)
    path = str(tmp_path / "events_by_type")
    spark.table("events").write.mode("overwrite").partitionBy("event_type").parquet(path)
    df = spark.read.parquet(path).where("event_type = 'view'").select("event_id")
    df.collect()
    plan = _formatted(df)
    assert "PartitionFilters" in plan and "view" in plan, plan
    # and the pruned scan reads only the one partition's rows
    total = spark.table("events").where("event_type = 'view'").count()
    assert df.count() == total


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark, sf_dir):
    """Semi-join reduction for free: on a selective dim-filtered shuffle
    join, the session's optimizer must inject a runtime Bloom filter on
    the fact side (bloom_filter_agg over the filtered dim keys ->
    might_contain pruning the fact scan). Size thresholds gate it off at
    fixture scale, so the test lowers them — pinning that the engine
    config this session inherits still delivers the 100 TB behavior
    (a 10 GiB fact scan gets Bloom-pruned before the shuffle)."""
    from squirtle_spark import catalog

    catalog.register_all(spark, sf_dir)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # keep the join a shuffle join: broadcast would preempt the filter
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None  # no session value: restore by unset
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.sql(
            "SELECT l_orderkey, o_orderdate FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderpriority = '1-URGENT'"
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # the filter must land on the FACT side's key
        assert "might_contain" in plan and "l_orderkey" in plan.split(
            "might_contain", 1
        )[1][:120], plan
        # and values are unaffected by the injected filter
        n = df.count()
        exact = spark.sql(
            "SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderpriority = '1-URGENT'"
        ).collect()[0][0]
        assert n == exact > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
