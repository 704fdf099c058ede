"""Physical-plan audits: the properties that make these queries survive a
100x scale-up, asserted on .explain output so regressions fail loudly.

- predicate pushdown reaches the parquet scan (PushedFilters)
- projections prune the scan (ReadSchema)
- small-side joins broadcast (BroadcastHashJoin) instead of shuffling
- ORDER BY+LIMIT compiles to distributed top-k, not a global sort
- aggregations partial-aggregate map-side before the shuffle
- JVM-only paths contain no Python eval nodes
- narrow pipelines introduce no Exchange at all
- every registry query's plan counts equal the committed PLANS.json
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from tools.dump_plans import PLANS_JSON, plan_stats

SF = "/root/testdata/sf0.001"


def plan_of(q, spark):
    return entry.queries()[q](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_pushdown_reaches_scan(spark):
    p = plan_of("q1_pricing_summary", spark)
    assert "PushedFilters" in p and "LessThanOrEqual(l_shipdate" in p
    p2 = plan_of("ordered_limit_topk", spark)
    assert "ReadSchema" in p2


def test_projection_prunes_scan(spark):
    p = plan_of("full_table_projection", spark)
    # only the 3 resolved columns reach the reader
    assert "c_custkey" in p and "c_name" in p and "c_acctbal" in p
    assert "c_mktsegment" not in p and "c_nationkey" not in p


def test_semijoin_broadcasts(spark):
    p = plan_of("sync_incremental_semijoin", spark)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_error_routing_broadcasts(spark):
    p = plan_of("failed_record_routing", spark)
    assert "BroadcastHashJoin" in p


def test_topk_not_global_sort(spark):
    p = plan_of("ordered_limit_topk", spark)
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_aggs_partial_before_shuffle(spark):
    for q in ("q1_pricing_summary", "grouped_stream_stats", "volume_count"):
        p = plan_of(q, spark)
        assert "partial" in p, q  # map-side combine present


def test_single_shuffle_for_grouped_agg(spark):
    p = plan_of("grouped_stream_stats", spark)
    assert p.count("Exchange") <= 2  # one hash exchange (+AQE read)


def test_jvm_only_paths_have_no_python(spark):
    for q in (
        "sync_incremental_semijoin",
        "q1_pricing_summary",
        "text_analysis",
        "exact_dedup_docs",
        "word_jaccard_pairs",
        "embedding_topk",
    ):
        p = plan_of(q, spark)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, q


def test_narrow_pipeline_no_shuffle(spark):
    for q in ("text_analysis", "payload_reshape", "uuid_validation"):
        p = plan_of(q, spark)
        assert "Exchange" not in p, q


def test_q3_join_order_broadcasts_filtered_dim(spark):
    # the BUILDING-filtered customer side is small -> must broadcast into
    # the orders join rather than shuffling the fact side
    p = plan_of("q3_shipping_priority", spark)
    assert "BroadcastHashJoin" in p


def test_quality_suite_references_broadcast_anti(spark):
    """data_quality_report's referential check must plan as a broadcast
    left-anti join (parent keys are dimension-sized), never a shuffle of
    the fact side."""
    p = plan_of("data_quality_report", spark)
    assert "SortMergeJoin" not in p


def test_vocab_coverage_broadcasts_vocab(spark):
    """The top-V vocab side is V rows by construction — the token-stream
    join must be a BroadcastHashJoin, and the stream itself must not be
    exchanged for it."""
    p = plan_of("vocab_coverage", spark)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bigram_surprisal_no_python_no_smj(spark):
    """The LM scoring path is pure JVM (split/zip_with/conv) and its
    big-big counts join stays a hash join at bench scale."""
    p = plan_of("bigram_surprisal", spark)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p


def test_ivf_persisted_probe_partition_filters(spark):
    """The persisted-IVF probe is a partition-pruned scan: the registry
    query's plan must show PartitionFilters on __cluster."""
    p = plan_of("embedding_ann_ivf_persisted", spark)
    assert "PartitionFilters" in p and "__cluster" in p


def test_span_coverage_single_gram_evaluation(spark):
    """The duplicated-gram flag is a window over the gram hash — the
    exploded positional-gram relation must appear ONCE in the plan (the
    groupBy+join-back form evaluates the Generate subtree twice), and
    the whole path is JVM-only."""
    p = plan_of("ngram_span_coverage", spark)
    assert p.count("Generate explode") + p.count("Generate posexplode") <= 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p


def test_decontamination_broadcasts_eval_grams(spark):
    """The eval-set gram relation broadcasts; the corpus gram stream is
    never exchanged for the membership join."""
    p = plan_of("strip_contaminated_spans", spark)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dsir_partial_aggregates_and_no_python(spark):
    """Token stats partial-aggregate before the exchange; the scoring
    path is pure JVM (split/explode/conv)."""
    p = plan_of("dsir_doc_scores", spark)
    assert "partial_count" in p or "HashAggregate" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p


def test_mixture_plan_scalar_broadcast_joins(spark):
    """Budget/rate scalars join back by broadcast (the Q11 scalar-
    threshold shape), never a shuffle join."""
    p = plan_of("mixture_plan", spark)
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_bloom_membership_broadcasts_positions(spark):
    """The Bloom position summary broadcasts (it is m-bounded by design);
    no sort-merge join and no Python anywhere in the pipeline."""
    p = plan_of("bloom_corpus_membership", spark)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_retention_cohorts_two_agg_shuffles_no_python(spark):
    p = plan_of("retention_cohorts", spark)
    assert "partial" in p  # map-side combine on both aggs
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p


def test_windowed_anomalies_single_hash_exchange(spark):
    """One hash partition by user feeds the running frame; no range
    (global-sort) exchange, no Python."""
    p = plan_of("windowed_anomalies", spark)
    assert "Window" in p
    assert "Exchange rangepartitioning" not in p
    assert p.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_distinctive_terms_single_scan_window_totals(spark):
    """The totals are WINDOW sums over the vocabulary-sized cell
    relation — the token stream is scanned exactly once (the join form
    re-executed the explode subtree once per total)."""
    p = plan_of("distinctive_terms", spark)
    assert p.count("Scan parquet") == 1
    assert "Window" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_column_profile_single_pass_no_python(spark):
    """The profiler folds every counter into one aggregation (Expand for
    the exact distincts), never a per-column scan; no Python."""
    p = plan_of("column_profile_orders", spark)
    assert p.count("Scan parquet") == 1
    assert "Expand" in p and "partial" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bpe_pairs_partial_agg_no_python(spark):
    p = plan_of("bpe_merge_pairs", spark)
    assert "partial" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p


def test_ewm_single_hash_exchange_no_python(spark):
    p = plan_of("ewm_user_spend", spark)
    assert "Window" in p
    assert p.count("Exchange hashpartitioning") <= 1
    assert "Exchange rangepartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q17_single_agg_join_two_scans(spark):
    """The merged-aggregate rewrite: exactly 2 lineitem scans (outer +
    stats), one broadcast join, no SMJ."""
    p = plan_of("q17_small_quantity_revenue", spark)
    assert p.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_global_plan_audit_no_smj_python_only_at_declared_edges(spark):
    """Sweep EVERY registry query's physical plan at sf0.001: zero
    SortMergeJoin anywhere (the 100x scale-up guard — every join in the
    surface either broadcasts or is a 1-row scalar nested-loop), and
    Python eval nodes appear ONLY in the declared Arrow-batched edges
    (BLAS cosine / k-means assignment / media codecs). Staged pipelines
    materialize their signature writes during plan construction, so
    their probe plans are pure JVM by design.

    The same loop recomputes each query's formatted-plan counts with
    tools/dump_plans.plan_stats and asserts them equal to the committed
    PLANS.json, with zero SortMergeJoin, CartesianProduct and
    BatchEvalPython everywhere."""
    PYTHON_EDGE_QUERIES = {
        "semantic_dedup",        # IVF assign pandas_udf
        "media_decode_stats",    # mapInPandas codec
        "media_frame_counts",    # mapInPandas codec
        "media_png_roundtrip_stats",  # mapInPandas real PNG encode+decode
        "media_wav_roundtrip_stats",  # mapInPandas real WAV encode+decode
        "image_dhash_neardup",    # mapInPandas PNG synth + codec dHash
        "audio_fingerprint_neardup",  # mapInPandas WAV synth + fingerprint
        "embedding_moments",     # int64-matmul BLAS partials (exact)
        "embedding_neardup",     # block-packed BLAS cosine
        "bucketed_neardup_recall",  # exact ground-truth side = same BLAS edge
        "embedding_neardup_bucketed",  # same declared BLAS gram-matrix edge
    }
    with open(PLANS_JSON) as fh:
        committed = json.load(fh)
    assert committed["sf"] == os.path.basename(SF)
    committed = committed["queries"]
    py_offenders, smj_offenders, forbidden, drift = [], [], {}, []
    for name, fn in entry.queries().items():
        df = fn(spark, SF)
        p = df._jdf.queryExecution().executedPlan().toString()
        if "SortMergeJoin" in p:
            smj_offenders.append(name)
        has_py = ("EvalPython" in p or "MapInPandas" in p
                  or "FlatMapGroupsInPandas" in p)
        if has_py and name not in PYTHON_EDGE_QUERIES:
            py_offenders.append(name)
        stats = plan_stats(df)
        bad = {k: stats[k] for k in ("smj", "cartesian", "batch_eval_python") if stats[k]}
        if bad:
            forbidden[name] = bad
        old = committed.get(name, {})
        if stats != old:
            drift.append(f"{name}: " + ", ".join(
                f"{k} {old.get(k)} -> {v}" for k, v in stats.items() if old.get(k) != v))
    assert smj_offenders == [], smj_offenders
    assert py_offenders == [], py_offenders
    assert forbidden == {}, forbidden
    assert set(committed) == set(entry.queries()), (
        sorted(set(committed) ^ set(entry.queries())))
    assert drift == [], (
        "plan counts differ from the committed PLANS.json; rerun "
        "`python tools/dump_plans.py` and record why "
        "in CHANGES.md:\n"
        + "\n".join(drift))


def test_retention_cohorts_single_scan(spark):
    """Cohort week is a per-user window min — the event stream is
    scanned once (the join form re-derived the activity relation)."""
    p = plan_of("retention_cohorts", spark)
    assert p.count("Scan parquet") == 1
    assert "Window" in p


def test_ivfpq_probe_partition_pruned_and_jvm(spark):
    """IVF-PQ serving plan: the codes scan carries PartitionFilters on
    __cluster (only probed lists are read), the ADC join broadcasts the
    LUT, the re-rank join broadcasts the 100-row candidate set — no
    SortMergeJoin, no Python anywhere (staging happened at plan
    construction)."""
    p = plan_of("embedding_ann_ivfpq", spark)
    assert "PartitionFilters" in p and "__cluster" in p.split("PartitionFilters")[1][:300]
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    for node in ("EvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in p


def test_explains_md_covers_every_registry_query():
    """PLANS.json (tools/dump_plans.py output) must carry exactly one
    plan-count entry per registry query, and no entry for a query the
    registry no longer has — a stale artifact silently under-documents
    new queries. The counts themselves are checked by the registry sweep
    above."""
    with open(PLANS_JSON) as fh:
        planned = set(json.load(fh)["queries"])
    registry = set(entry.queries())
    assert registry - planned == set()
    assert planned - registry == set()
