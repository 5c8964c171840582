"""Physical-plan assertions (SURVEY.md §4): the optimizations the
reference implements manually (or gets from Polars/DuckDB) must appear
in our Catalyst plans — pushdown, pruning, broadcast-for-bounded-dims,
top-k without a global sort, partition pruning on ingest output.

These tests keep plan regressions (e.g. a refactor that breaks
pushdown by inserting a UDF) from silently costing 100x at scale.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import functions as F

from nemscraper_spark.queries import REGISTRY


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = REGISTRY["filter_eq"].fn(spark, sf_dir)
    p = plan(df)
    assert "PushedFilters" in p
    assert "l_returnflag" in p.split("PushedFilters")[1].splitlines()[0]


def test_projection_pruning_reaches_scan(spark, sf_dir):
    df = REGISTRY["select_alias"].fn(spark, sf_dir)
    p = plan(df)
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    # untouched wide columns must NOT be read
    assert "l_comment" not in read_schema and "l_tax" not in read_schema


def test_topk_avoids_global_sort(spark, sf_dir):
    p = plan(REGISTRY["topk_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_bounded_dims_broadcast(spark, sf_dir):
    p = plan(REGISTRY["join_dim_cascade"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p  # nation/region sides


def test_whole_stage_codegen_covers_expressions(spark, sf_dir):
    p = plan(REGISTRY["project_arithmetic"].fn(spark, sf_dir))
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    assert "codegen id" in p


def test_partition_pruning_on_ingest_output(spark, tmp_path):
    """A date= filter on splitter output must prune directories
    (the reference hand-builds 3-day path lists for this —
    crunch.rs:113-122; Catalyst does it from the filter)."""
    from nemscraper_spark.sources.nemcsv import ingest
    from tests.test_ingest import NEM_CSV

    landing = tmp_path / "landing"
    landing.mkdir()
    for day in ("20220720", "20220721"):
        with zipfile.ZipFile(landing / f"PUBLIC_X_{day}_0001.zip", "w") as zf:
            zf.writestr(f"PUBLIC_X_{day}.CSV", NEM_CSV.replace("20220720", day))
    out = str(tmp_path / "out")
    ingest(spark, str(landing), out)

    df = spark.read.parquet(os.path.join(out, "FPP---UNIT_MW---1")).filter(
        F.col("date") == "2022-07-21"
    )
    p = plan(df)
    assert "PartitionFilters" in p
    pf_line = p.split("PartitionFilters")[1].splitlines()[0]
    assert "date" in pf_line
    # only the matching partition's files are scanned
    assert df.count() == 4


def test_ingest_starts_no_spark_job(spark, tmp_path):
    """ingest runs on the driver: no job id falls between a control job
    run just before it and one run just after it (Spark numbers jobs in
    order; the listener bus delivers them in order)."""
    import time

    from nemscraper_spark.sources.nemcsv import ingest
    from tests.test_ingest import D_ROWS_UNIT_MW, NEM_CSV

    landing = tmp_path / "landing"
    landing.mkdir()
    with zipfile.ZipFile(landing / "PUBLIC_X_20220720_0001.zip", "w") as zf:
        zf.writestr("PUBLIC_X_20220720.CSV", NEM_CSV)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def control(group):
        sc.setJobGroup(group, "one job")
        spark.range(3).collect()
        for _ in range(100):
            if tracker.getJobIdsForGroup(group):
                return tracker.getJobIdsForGroup(group)
            time.sleep(0.05)
        raise AssertionError(f"control job {group} never seen")

    try:
        before = control("before-ingest")
        # a job ingest started must not count as a control job
        sc.setLocalProperty("spark.jobGroup.id", None)
        counts = ingest(spark, str(landing), str(tmp_path / "out"))
        after = control("after-ingest")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert min(after) == max(before) + 1
    assert counts["FPP---UNIT_MW---1"] == D_ROWS_UNIT_MW


def test_range_join_bucketed_avoids_bnlj(spark, sf_dir):
    """The bucketized range join must plan as an equi-join (sort-merge
    or hash on the bucket key) — never a nested loop over the whole
    interval side (operators/rangejoin.py)."""
    p = plan(REGISTRY["join_range_bucketed"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    # the composite dashboard panel routes its interval join through the
    # same operator — it must stay BNLJ-free too
    p2 = plan(REGISTRY["dashboard_state_timeline"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p2


def test_fpp_pipeline_join_strategies(spark, sf_dir):
    """The flagship pipeline's joins must all be equi-joins (nested-loop
    only for the two deliberate spine cross joins). The freq-measure
    join carries NO forced broadcast hint — fm grows with the queried
    time range (~5M rows on a multi-year backfill), so sizing is left
    to AQE, which broadcast-converts at runtime exactly when the
    post-agg side fits (same policy as joins.py's forecast join)."""
    df = REGISTRY["fpp_performance"].fn(spark, sf_dir)
    p = plan(df)
    # r12: the trajectory is served from the shared trunk, so the one
    # sanctioned spine x units cross join lives INSIDE the cached
    # build's InMemoryRelation printout (which shows the build's final
    # + initial AQE plans — hence up to 2 tree occurrences, executed
    # once per session), never at consumer level: every tree
    # BroadcastNestedLoopJoin line must sit strictly deeper than the
    # InMemoryRelation line.
    tree = p.split("\n\n")[0].splitlines()
    bnlj = [l for l in tree if "BroadcastNestedLoopJoin" in l]
    rel = [l for l in tree if "InMemoryRelation" in l]
    assert rel, "fpp_performance no longer reads the trajectory trunk"
    rel_depth = rel[0].index("InMemoryRelation")
    assert len(bnlj) <= 2  # spine x units grid, final + initial printout
    for line in bnlj:
        assert line.index("BroadcastNestedLoopJoin") > rel_depth, line
    # every remaining join is an equi join on its key
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    # the fm side must not be hint-pinned: the analyzed plan carries a
    # ResolvedHint per F.broadcast(). Exactly ONE is sanctioned — the
    # units dim (distinct user_id, bounded by physical unit count at
    # any SF, fpp_pipeline.py:107). A second hint means fm got pinned
    # again.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") <= 1
    # AQE owns the runtime strategy
    assert "AdaptiveSparkPlan" in p


def test_corpus_pipeline_minimal_shuffles(spark, sf_dir):
    """filter -> dedup -> lang-ID -> agg must stay join-free with only
    the dedup hash partition + aggregation exchanges."""
    p = plan(REGISTRY["training_corpus_pipeline"].fn(spark, sf_dir))
    assert "Join" not in p
    assert p.count("Exchange") <= 4


def test_vocab_topk_avoids_global_vocab_sort(spark, sf_dir):
    """The top-50 cut must be TakeOrderedAndProject (per-partition heap
    + driver merge) — never a full vocabulary sort; the rank window may
    only run on the 50 survivors."""
    p = plan(REGISTRY["vocab_top_tokens"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_tfidf_df_join_broadcasts(spark, sf_dir):
    """df(token) and the 1-row N both broadcast — the tf side (corpus-
    sized) must never shuffle for these joins."""
    p = plan(REGISTRY["tfidf_top_terms"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row N cross join
    assert "SortMergeJoin" not in p


def test_redaction_is_shuffle_free_jvm_projection(spark, sf_dir):
    """PII-style scrub must stay inside codegen: no Python eval node, no
    Exchange anywhere (it's a row-local filter+projection), and the scan
    must read only the two referenced columns."""
    p = plan(REGISTRY["redact_denylist_terms"].fn(spark, sf_dir))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema and "n_chars" not in read_schema


def test_quality_filter_is_shuffle_free_projection(spark, sf_dir):
    """Gopher rule filter is row-local: no Exchange, no Python eval,
    and the scan reads only the three referenced columns."""
    p = plan(REGISTRY["quality_filter_gopher"].fn(spark, sf_dir))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema and "n_chars" not in read_schema


def test_dedup_rate_distinct_is_two_level(spark, sf_dir):
    """COUNT(DISTINCT md5) must expand to the two-level aggregate —
    partial aggregation on (source, hash) before any exchange, so no
    raw text row ever shuffles."""
    p = plan(REGISTRY["dedup_rate_by_source"].fn(spark, sf_dir))
    # partial aggregation on (source, md5) runs BEFORE the hash
    # exchange (the earlier RoundRobin exchange is fan_out's local-test
    # parallelism shim, a guarded no-op on real clusters)
    assert "partial_count" in p.split("hashpartitioning(source")[0]
    assert "hashpartitioning(source" in p
    # exactly the two aggregate exchanges (the (source, md5) level and
    # the source level) + fan_out's round-robin — nothing else
    assert p.count("ENSURE_REQUIREMENTS") <= 2


def test_mixture_resample_is_shuffle_free(spark, sf_dir):
    """Hash-rate downsampling is a pure function of the row — any
    Exchange in this plan is a scale regression."""
    p = plan(REGISTRY["mixture_resample_weighted"].fn(spark, sf_dir))
    assert "Exchange" not in p


def test_mixture_upsample_broadcasts_weights(spark, sf_dir):
    """The per-source weight table must reach the corpus via broadcast —
    the corpus side of the join must never shuffle."""
    p = plan(REGISTRY["mixture_upsample_epochs"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_decontaminate_broadcasts_test_ngrams(spark, sf_dir):
    """The distinct test-side n-gram set is eval-set sized; it must be
    the build side of a broadcast join so the train side never moves."""
    p = plan(REGISTRY["decontaminate_train_ngrams"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_sequence_packing_window_is_partitioned(spark, sf_dir):
    """The packing prefix sum must be per-source — a partition-less
    window would serialize the whole corpus through one task."""
    p = plan(REGISTRY["sequence_packing"].fn(spark, sf_dir))
    assert "windowspecdefinition(source" in p


def test_span_ops_windows_are_doc_partitioned(spark, sf_dir):
    """dup_passage_spans runs its interval-union windows partitioned by
    doc_id — a partition-less window here would serialize the corpus
    through one task. dedup_cut_spans goes further: the cut is a
    row-local aggregate() cursor pass, so its plan must contain NO
    window operator at all (only gram-count and doc_id-keyed shuffles)."""
    p = plan(REGISTRY["dup_passage_spans"].fn(spark, sf_dir))
    assert "windowspecdefinition(doc_id" in p
    # no global window anywhere in the plan
    assert "windowspecdefinition(p" not in p.replace(
        "windowspecdefinition(pos", ""
    )
    p_cut = plan(REGISTRY["dedup_cut_spans"].fn(spark, sf_dir))
    assert "windowspecdefinition" not in p_cut
    assert "Window" not in p_cut


def test_keep_canonical_survivor_join_is_equi(spark, sf_dir):
    """The survivor filter must reach documents as a doc_id equi-join
    (hash or sort-merge; AQE broadcasts small dup sets at runtime) —
    never a nested loop. Statically the checkpointed CC side has no
    stats, so a broadcast can't be pinned here; what CAN be pinned is
    the absence of the quadratic fallback."""
    p = plan(REGISTRY["dedup_keep_canonical"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Join" in p


def test_q3_topk_and_pushdown(spark, sf_dir):
    """Q3's LIMIT must be TakeOrderedAndProject (no global sort) and the
    date/segment filters must reach the parquet scans."""
    p = plan(REGISTRY["q3_shipping_priority"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.split("TakeOrderedAndProject")[0]
    assert "PushedFilters" in p and "c_mktsegment" in p


def test_q5_bounded_dims_broadcast(spark, sf_dir):
    """Q5's nation/region hops must be broadcast joins — the fact
    stream never shuffles for a bounded dimension."""
    p = plan(REGISTRY["q5_local_supplier_volume"].fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def _tree(p: str) -> str:
    """The operator-tree section of a formatted plan (before the
    numbered details, which repeat every operator name)."""
    return p.split("\n\n")[0]


def test_scd2_single_exchange(spark, sf_dir):
    """Both window passes (LAG change-detect, LEAD validity interval)
    partition by the same entity key — Spark must plan ONE shuffle for
    the whole SCD2 build, not one per window."""
    import re

    p = plan(REGISTRY["scd2_priority_history"].fn(spark, sf_dir))
    shuffles = re.findall(r"^\s*[:+-]*\s*Exchange\b", _tree(p), re.M)
    assert len(shuffles) == 1, _tree(p)


def test_zscore_stats_broadcast(spark, sf_dir):
    """The per-type stats frame is tiny — it must broadcast so the fact
    side never shuffles for the outlier gate."""
    p = plan(REGISTRY["zscore_outliers"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_histogram_partial_agg_and_pruning(spark, sf_dir):
    """The histogram must partial-aggregate map-side (two HashAggregate
    levels around one Exchange) and read ONLY l_extendedprice."""
    p = plan(REGISTRY["histogram_price_buckets"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 2
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_merge_upsert_no_nested_loop(spark, sf_dir):
    """MERGE lowers to a single full-outer equi-join on the merge key —
    full outer can't broadcast, so SortMergeJoin is the right plan; the
    quadratic fallbacks must not appear."""
    p = plan(REGISTRY["merge_upsert_dim"].fn(spark, sf_dir))
    assert "SortMergeJoin FullOuter" in p or "ShuffledHashJoin FullOuter" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_lsh_md5_no_shingle_self_join(spark, sf_dir):
    """The md5 LSH twin keeps the production plan shape: candidates come
    from the band bucket join (equi-joins only — no nested loop, no
    cartesian), and since the round-8 swap the exact-Jaccard verify is
    the equi-join + count form: NO per-doc shingle set may be
    materialized in an aggregation buffer (no collect_set, no
    array_intersect) — that buffer was the 100 TB memory/skew hazard
    the swap removed."""
    for name in (
        "minhash_lsh_pairs_md5",
        "minhash_containment_pairs",
        "lsh_band_curve_report",
        # the round-9 retirements: the last three candidate-restricted
        # verify sites outside the md5 trunk (round-8 verdict, "What's
        # wrong" #1)
        "dedup_incremental_delta",
        "minhash_jaccard_estimate",
    ):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, name
        if name != "lsh_band_curve_report":
            # the band-curve report DOES carry broadcast nested-loop
            # CROSS joins — its one-row exact-pair count enters each
            # one-row arm that way, by design (see its docstring)
            assert "BroadcastNestedLoopJoin" not in p, name
        assert "collect_set" not in p and "array_intersect" not in p, name


def test_ks_global_window_runs_on_value_lattice(spark, sf_dir):
    """The KS queries carry exactly ONE unpartitioned window each (the
    corpus-CDF cumsum — the WindowExec single-partition warning in the
    bench tail): its input must be the distinct-VALUE grid, never
    document rows.  Pinned two ways: (a) the plan's global window sits
    over an aggregate keyed by v, so its input cardinality is the
    lattice; (b) the bucketed variant's lattice is capped at
    domain/width by construction — the 100 TB form for continuous
    columns (see both docstrings)."""
    from nemscraper_spark.queries.common import load_table
    from nemscraper_spark.queries.corpus_health import _KS_BUCKET_WIDTH

    import re

    d = load_table(spark, sf_dir, "documents")
    n_rows = d.count()
    for name in ("ks_drift_by_source", "ks_drift_bucketed"):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        # an unpartitioned window spec ORDERS BY v directly (the
        # partitioned specs all lead with source) — i.e. the global
        # cumsum runs over the v-keyed aggregate, the value lattice
        n_global = len(re.findall(r"windowspecdefinition\(v#\d+", p))
        assert n_global == 1, (name, n_global)
    n_vals = d.select("n_chars").distinct().count()
    n_buckets = d.select(
        F.expr(f"n_chars DIV {_KS_BUCKET_WIDTH}")
    ).distinct().count()
    assert n_buckets <= n_vals < n_rows
    # the bucketed grid is bounded by domain/width, not by data volume
    max_chars = d.agg(F.max("n_chars")).first()[0]
    assert n_buckets <= max_chars // _KS_BUCKET_WIDTH + 1


def test_lsh_xxhash_default_no_collect_set(spark, sf_dir):
    """The xxhash library-default pipeline (lsh_verified_pairs — not a
    registered query, the cheaper production parameterization) carries
    the same round-9 count-form verify: no per-doc shingle-hash set in
    any aggregation buffer, candidates from equi-joins only."""
    from nemscraper_spark.queries.common import load_table
    from nemscraper_spark.queries.training_data import lsh_verified_pairs

    d = load_table(spark, sf_dir, "documents")
    p = plan(lsh_verified_pairs(d, threshold=0.2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "collect_set" not in p and "array_intersect" not in p


def test_sql_views_push_down(spark, sf_dir):
    """The §3.3 SQL surface (nemscraper_spark.sql.register_views) must
    behave exactly like the DataFrame API: a dashboard query's filter
    reaches the parquet scan and untouched columns are pruned."""
    from nemscraper_spark.sql import sql as run_sql

    df = run_sql(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag
        """,
    )
    p = plan(df)
    assert "PushedFilters" in p and "l_linestatus" in p.split("PushedFilters")[1].splitlines()[0]
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert df.count() > 0


def test_range_frame_and_locf_single_exchange(spark, sf_dir):
    """Time-RANGE rolling sum and LOCF each shuffle once on the entity
    key; the frame scan itself is a per-partition cursor."""
    import re

    for name in ("range_frame_rolling_sum", "locf_forward_fill"):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        shuffles = re.findall(r"^\s*[:+-]*\s*Exchange\b", _tree(p), re.M)
        assert len(shuffles) == 1, (name, _tree(p))


def test_null_safe_join_no_nested_loop(spark, sf_dir):
    """eqNullSafe must lower to a hash/sort-merge join, never the
    quadratic fallback."""
    p = plan(REGISTRY["join_null_safe"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_simhash_pairs_band_equi_join(spark, sf_dir):
    """SimHash pairing must come from the (band, chunk) bucket equi-join
    — never a quadratic all-pairs fallback."""
    p = plan(REGISTRY["simhash_near_dup_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_pii_scrub_is_shuffle_free_jvm_projection(spark, sf_dir):
    """Regex PII scrub is row-local codegen: no Exchange, no Python
    eval node, and the scan reads only doc_id + text."""
    p = plan(REGISTRY["pii_scrub_regex"].fn(spark, sf_dir))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema and "n_chars" not in read_schema


def test_embedding_dim_stats_partial_agg(spark, sf_dir):
    """Per-dim stats must partial-aggregate map-side (two HashAggregate
    levels around the 64-key exchange) and contain no join."""
    p = plan(REGISTRY["embedding_dim_stats"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p


def test_interval_merge_single_user_shuffle(spark, sf_dir):
    """The islands merge must reuse ONE user_id shuffle across both
    window passes and both aggregations — hashpartitioning(user_id)
    satisfies every downstream clustering requirement."""
    import re

    p = plan(REGISTRY["interval_merge_coverage"].fn(spark, sf_dir))
    shuffles = re.findall(r"^\s*[:+-]*\s*Exchange\b", _tree(p), re.M)
    assert len(shuffles) == 1, _tree(p)


def test_rolling_median_single_exchange(spark, sf_dir):
    """Windowed median shuffles once on user_id; the 7-row frame is a
    per-partition cursor."""
    import re

    p = plan(REGISTRY["rolling_median_window"].fn(spark, sf_dir))
    shuffles = re.findall(r"^\s*[:+-]*\s*Exchange\b", _tree(p), re.M)
    assert len(shuffles) == 1, _tree(p)


def test_asof_forward_is_join_free(spark, sf_dir):
    """The forward as-of join lowers to union-and-carry: a user_id
    window pass, NO join operator of any kind."""
    p = plan(REGISTRY["asof_join_forward"].fn(spark, sf_dir))
    assert "Join" not in p
    assert "windowspecdefinition(user_id" in p


def test_contamination_report_broadcasts_eval_side(spark, sf_dir):
    """The eval n-gram set and the hit list are eval-sized — both must
    broadcast; the train side never shuffles on an n-gram key."""
    p = plan(REGISTRY["contamination_rate_report"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_dashboard_panel_sql_pushdown(spark, sf_dir):
    """The literal panel SQL must get the same Catalyst treatment as
    DataFrame code: the event_type filter reaches the parquet scan."""
    p = plan(REGISTRY["sql_byte_rate_panel"].fn(spark, sf_dir))
    assert "PushedFilters" in p
    assert "event_type" in p.split("PushedFilters")[1].splitlines()[0]


def test_bpe_pairs_topk_avoids_global_sort(spark, sf_dir):
    """The merge-candidate cut must be TakeOrderedAndProject over the
    bounded pair aggregate — never a full sort of the pair table."""
    p = plan(REGISTRY["bpe_top_merge_pairs"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_token_budget_cut_single_exchange(spark, sf_dir):
    """The budget cut is one window pass: a single source shuffle, and
    the budget gate must not add any further exchange."""
    import re

    p = plan(REGISTRY["token_budget_cut_per_source"].fn(spark, sf_dir))
    shuffles = re.findall(r"^\s*[:+-]*\s*Exchange\b", _tree(p), re.M)
    assert len(shuffles) == 1, _tree(p)


def test_q17_threshold_build_is_pruned(spark, sf_dir):
    """The per-part quantity-threshold aggregate must consume only the
    fact rows whose partkey survives the Brand#13/ECONOMY filter: the
    plan needs a left-semi broadcast join UPSTREAM of the partial
    aggregate, so at 100 TB the threshold build shuffles ~0.1% of
    lineitem instead of all of it."""
    p = plan(REGISTRY["q17_small_quantity_revenue"].fn(spark, sf_dir))
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p


def test_semantic_dedup_no_cross_join(spark, sf_dir):
    """SemDeDup's point is pruning the all-pairs cosine to
    within-cluster pairs: the plan must pair via an equi-join on cid,
    never a cartesian/BNLJ over the corpus."""
    p = plan(REGISTRY["semantic_dedup_clusters"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_quality_classifier_shuffle_free(spark, sf_dir):
    """The linear classifier is pure column algebra: zero exchanges,
    whole-stage codegen over one scan."""
    import re

    p = plan(REGISTRY["quality_classifier_linear"].fn(spark, sf_dir))
    assert not re.findall(r"^\s*[:+-]*\s*Exchange\b", _tree(p), re.M), _tree(p)
    assert "codegen id" in p


def test_char_class_profile_single_exchange(spark, sf_dir):
    """Per-source QC is one partial-aggregated groupBy: exactly one
    shuffle on the bounded source key."""
    import re

    p = plan(REGISTRY["char_class_profile"].fn(spark, sf_dir))
    shuffles = re.findall(r"^\s*[:+-]*\s*Exchange\b", _tree(p), re.M)
    assert len(shuffles) == 1, _tree(p)


def test_mean_pool_partial_agg(spark, sf_dir):
    """The pooling aggregate must combine map-side: a partial
    HashAggregate below the exchange so the shuffle carries label x 64
    keys, not exploded vector components."""
    import re

    p = plan(REGISTRY["embedding_mean_pool_by_label"].fn(spark, sf_dir))
    shuffles = re.findall(r"^\s*[:+-]*\s*Exchange\b", _tree(p), re.M)
    assert len(shuffles) == 1, _tree(p)
    assert p.count("HashAggregate") >= 2  # partial + final


def test_bucket_sums_panel_pushdown(spark, sf_dir):
    """The 5-min bucket panel's state filter must reach the scan."""
    p = plan(REGISTRY["sql_bucket_sums_panel"].fn(spark, sf_dir))
    assert "PushedFilters" in p
    assert "event_type" in p.split("PushedFilters")[1].splitlines()[0]


def test_q4_exists_becomes_semi_join(spark, sf_dir):
    """The EXISTS decorrelation must plan as a semi join with the
    order-side date filter pushed to the scan."""
    p = plan(REGISTRY["q4_order_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in p
    assert "PushedFilters" in p
    assert "o_orderdate" in p.split("PushedFilters")[1].splitlines()[0]


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the pushdown benchmark: date, discount, and quantity
    predicates all reach the parquet scan."""
    p = plan(REGISTRY["q6_revenue_change"].fn(spark, sf_dir))
    pushed = p.split("PushedFilters")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert "l_quantity" in pushed


def test_q10_topk_no_global_sort(spark, sf_dir):
    """The top-20 over the customer roll-up must be
    TakeOrderedAndProject, not a full sort."""
    p = plan(REGISTRY["q10_returned_items"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_q22_anti_join_planned(spark, sf_dir):
    """NOT EXISTS must plan as an anti join (never a filtered
    cartesian)."""
    p = plan(REGISTRY["q22_sales_opportunity"].fn(spark, sf_dir))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q7_q8_no_cartesian_dims_broadcast(spark, sf_dir):
    """The multi-dim join trees must broadcast the nation/region dims
    and never fall into a cartesian for the OR-pair predicate."""
    for name in ("q7_volume_shipping", "q8_market_share"):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in p, name
        assert "CartesianProduct" not in p, name


def test_q21_semi_and_anti_on_same_key(spark, sf_dir):
    """The double correlated subquery must decorrelate to one semi and
    one anti join — no nested loop over lineitem."""
    p = plan(REGISTRY["q21_blame_single_supplier"].fn(spark, sf_dir))
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q16_blacklist_broadcast_anti(spark, sf_dir):
    """The negative-balance supplier blacklist must enter as a
    BROADCAST anti join — a shuffled anti over a handful of keys would
    add a full exchange of the distinct-pair build at 100 TB."""
    p = plan(REGISTRY["q16_supplier_cnt"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q20_family_semi_precedes_aggregate(spark, sf_dir):
    """The part-family filter must reach lineitem as a semi join
    BEFORE the per-(part,supplier) aggregate (the q17 lesson): the
    groupBy may only see the name-matched slice, never the full fact."""
    df = REGISTRY["q20_potential_promotion"].fn(spark, sf_dir)
    p = plan(df)
    assert "LeftSemi" in p
    agg_pos = p.index("HashAggregate")
    semi_pos = p.index("LeftSemi")
    # formatted plans print operators top-down (output first), so the
    # upstream semi join appears AFTER the aggregate that consumes it.
    assert semi_pos > agg_pos


def test_semantic_keep_list_no_nested_loop(spark, sf_dir):
    """The SemDeDup closure must stay on hash/sort-merge equi-joins
    end to end — pair generation is the within-cluster equi-join on
    cid and the final tag a left equi-join on vec_id; any nested loop
    here means a cross join leaked in and the query dies at 1e9
    vectors."""
    p = plan(REGISTRY["semantic_dedup_keep_list"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_band_curve_arms_are_equi_joins(spark, sf_dir):
    """Both band-geometry arms must generate candidates via the
    (band, bucket) equi-join — the linear LSH plan — never a pair
    enumeration.  The only nested loops allowed are the two bounded
    1-row broadcast cross joins that attach the exact-pair count to
    each arm's single aggregate row."""
    import re

    p = plan(REGISTRY["lsh_band_curve_report"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) <= 2


def test_recall_report_bnlj_is_bounded_broadcast(spark, sf_dir):
    """The recall report's exact side is a 10-query brute force: the
    ONLY nested-loop join allowed is that bounded broadcast (queries
    side ~10 rows); the LSH candidate side must remain equi-joined."""
    import re

    p = plan(REGISTRY["ann_lsh_recall_report"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    # formatted plans print each operator twice (tree line + detail
    # block); count the numbered detail blocks
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1


def test_variant_extraction_stays_jvm_side(spark, sf_dir):
    """VARIANT parse + typed probes must compile to JVM expressions —
    no Python eval node — and the scan must prune to the two touched
    columns (the parse-once/extract-many promise is worthless if the
    scan drags the whole row in)."""
    p = plan(REGISTRY["variant_shred_props"].fn(spark, sf_dir))
    assert "EvalPython" not in p  # no BatchEvalPython/ArrowEvalPython
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "props" in read_schema and "event_type" in read_schema
    assert "user_id" not in read_schema and "value" not in read_schema


def test_udtf_is_arrow_and_topk_avoids_global_sort(spark, sf_dir):
    """The UDTF must run through the Arrow evaluator (one columnar
    batch per Python round trip, not row pickling), and the final
    top-50 must be TakeOrderedAndProject, never a global sort."""
    p = plan(REGISTRY["udtf_ngram_explode"].fn(spark, sf_dir))
    assert "ArrowEvalPythonUDTF" in p
    assert "TakeOrderedAndProject" in p


def test_full_outer_joins_aggregates_not_rows(spark, sf_dir):
    """Both full-outer inputs must aggregate BEFORE the join (the
    operator meets day-counts, not raw orders) and the status filters
    must reach the scans."""
    import re

    p = plan(REGISTRY["join_full_outer_reconcile"].fn(spark, sf_dir))
    assert "Join type: FullOuter" in p
    # tree section: the SortMergeJoin's children are the two two-phase
    # aggregates — every HashAggregate hangs BELOW the join node
    tree = p.split("(1) Scan parquet")[0].splitlines()
    join_depth = next(
        l.index("SortMergeJoin") for l in tree if "SortMergeJoin" in l
    )
    agg_depths = [
        l.index("HashAggregate") for l in tree if "HashAggregate" in l
    ]
    assert len(agg_depths) >= 4  # partial+final on each side
    assert all(d > join_depth for d in agg_depths)
    assert len(re.findall(r"EqualTo\(o_orderstatus", p)) == 2  # pushed


def test_ks_drift_windows_are_bounded_and_no_cartesian(spark, sf_dir):
    """The KS lattice must be built by broadcast joins (sources x
    value grid — both aggregates, never raw rows) with no
    CartesianProduct, and the arg-max must compile to WindowGroupLimit
    (rank-1 filter pushed into the window, no full per-source sort
    materialization)."""
    p = plan(REGISTRY["ks_drift_by_source"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p


def test_sign_signature_kernel_is_arrow_and_pruned(spark, sf_dir):
    """The packing kernel must run as MapInArrow (RecordBatch-level,
    no pandas conversion) and the scan must prune the label column."""
    p = plan(REGISTRY["embedding_sign_signature"].fn(spark, sf_dir))
    assert "MapInArrow" in p
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "embedding" in read_schema and "label" not in read_schema


def test_hamming_prefilter_is_band_equi_join(spark, sf_dir):
    """Candidates must come from the (band, bucket) equi-join — never
    a pair enumeration — and all bit arithmetic stays JVM-side (the
    only Python in the plan is the signature kernel itself)."""
    p = plan(REGISTRY["hamming_band_prefilter_report"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInArrow" in p
    assert "EvalPython" not in p  # bit ops codegen'd, not Python


def test_ppjoin_prefix_filter_is_equi_join_only(spark, sf_dir):
    """PPJoin candidate generation and verification must both be
    shingle/pair equi-joins — never a CartesianProduct or nested-loop
    pair enumeration — and stay entirely JVM-side (no Python in the
    plan: shingling is explode/transform, ranking is a window)."""
    p = plan(REGISTRY["jaccard_ppjoin_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_hll_reaggregate_partials_merge(spark, sf_dir):
    """The daily->total rollup must aggregate SKETCH partials (two
    HashAggregate levels over hll state), never re-scan raw events per
    level; the scan reads only the three columns the query touches."""
    p = plan(REGISTRY["hll_reaggregate_daily"].fn(spark, sf_dir))
    assert "hll_union_agg" in p or "hll_sketch_agg" in p
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in read_schema and "event_id" not in read_schema


def test_skyline_frontier_broadcast_no_allpairs(spark, sf_dir):
    """The skyline must come from the bounded-aggregate sweep + a
    broadcast equi-join of the frontier — never the oracle's quadratic
    NOT-EXISTS shape (no CartesianProduct / nested-loop), no Python."""
    p = plan(REGISTRY["doc_skyline_pareto"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_simpson_is_pure_aggregation(spark, sf_dir):
    """Simpson concentration is explode + two partial-aggregated
    groupBys: no join of any kind, no Python, and the scan must prune
    every column but doc_id/text."""
    p = plan(REGISTRY["token_simpson_concentration"].fn(spark, sf_dir))
    assert "Join" not in p
    assert "EvalPython" not in p
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_argmax_is_aggregate_not_window(spark, sf_dir):
    """The struct-max top-1-per-group must plan as a two-level
    HashAggregate (map-side combinable) with NO Window and NO Sort —
    that is the entire point vs the row_number plan."""
    p = plan(REGISTRY["argmax_last_event_per_user"].fn(spark, sf_dir))
    assert "Window" not in p
    assert "HashAggregate" in p or "SortAggregate" in p
    assert "EvalPython" not in p


def test_wau_rolling_has_no_range_join(spark, sf_dir):
    """The rolling-distinct plan must be the explode-to-targets shape:
    no CartesianProduct / BroadcastNestedLoopJoin (the range-join
    fallback), spine broadcast, all JVM-side."""
    p = plan(REGISTRY["wau_rolling_distinct"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_ivm_join_has_no_forced_fact_broadcast(spark, sf_dir):
    """The IVM base join must not PIN a fact-scaling side as broadcast
    (round-4's broadcast-policy lesson: forced broadcasts of
    fact-scaling relations OOM at 100 TB).  At test scale AQE may
    legitimately broadcast the tiny tables on its own, so the pin
    checks for the absence of an explicit broadcast HINT in the
    analyzed plan, not the physical join choice."""
    df = REGISTRY["ivm_delta_join_view"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in analyzed
    assert "hints=[broadcast" not in analyzed.lower()


def test_trend_slope_is_two_stage_aggregate(spark, sf_dir):
    """volume_trend_slope must plan as two partial-aggregated groupBys
    (days roll-up, then per-type moments) — no Window, no join, no
    Python: the whole regression is codegen'd integer moments whose
    state is bounded by types x days."""
    p = plan(REGISTRY["volume_trend_slope"].fn(spark, sf_dir))
    assert "Window" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_equidepth_primary_boundaries_stay_mergeable(spark, sf_dir):
    """The production equi-depth histogram's only aggregates are the
    approx_percentile sketch and plain count/sum/min/max — no exact
    global percentile (its final reducer materializes the value
    multiset; the 20x probe measured 31.6x for that shape vs 0.9x for
    this one), no Window, no Python."""
    p = plan(REGISTRY["equidepth_histogram_price"].fn(spark, sf_dir))
    assert "approx_percentile" in p or "percentile_approx" in p
    assert "percentile(" not in p.replace("approx_percentile(", "")
    assert "Window" not in p
    assert "EvalPython" not in p

def test_second_consumer_reads_persisted_trunk(spark, sf_dir):
    """Cross-consumer trunk reuse must be visible in the PHYSICAL plan,
    not just as registry object identity: once the first consumer
    builds a trunk family's persisted frame, the second consumer's
    plan contains an InMemoryTableScan over it (r11 consolidation —
    one pin per family would re-run three heavy builds, so pin the
    cheapest family, sem_pairs; the registry mechanics are identical
    across families by construction, queries/trunk_cache.py)."""
    import nemscraper_spark.queries.trunk_cache as tc
    from nemscraper_spark.queries import REGISTRY

    tc.clear_trunk_caches()
    try:
        REGISTRY["semantic_dedup_clusters"].fn(spark, sf_dir).collect()
        second = REGISTRY["semantic_dedup_keep_list"].fn(spark, sf_dir)
        assert "InMemoryTableScan" in plan(second)
    finally:
        tc.clear_trunk_caches()
