"""Reproducible sf0.1 -> sf1 scale validation (SCALE.md §10).

Round 8's first cut of this measurement was an ad-hoc script; this tool
pins the methodology so the growth table can be regenerated after any
optimization:

- sf1 fixture from ``tools/gen_sf1.py`` (deterministic, regenerated if
  absent);
- per query and per SF: ONE untimed cold run (pays staging + fresh-plan
  codegen) with ``SPARK_GRAFT_STAGE_REUSE=1`` against a run-unique
  stage root, then a timed median-of-3 probe loop — the same
  stage-once/probe-many split bench.py reports under its ``staged``
  key;
- both SFs measured in ONE session so host conditions cancel in the
  growth ratio;
- writes BENCH_sf1.json: per-SF medians, growth ratios, and the COLD
  first-run times (the number the first cut did not record — a cold
  path hiding a quadratic, like the r8 s2 linkage find, shows up here).

    python tools/bench_sf1.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# r9: extended from the original 12 to the union of (r8's list, the
# top-30 by sf0.1 median in BENCH_full r8, the r8-verdict-named heavy
# queries that postdated the first cut) — 40 queries.
QUERIES = [
    "candidate_keys_orders", "conformal_price_interval",
    "qini_discount_uplift", "frequent_triples_parts",
    "ann_ranking_quality", "word_jaccard_pairs", "part_golden_records",
    "part_record_linkage", "embedding_dim_recall",
    "range_join_price_bands", "bucketed_neardup_recall",
    "gopher_repetition_docs",
    "lift_table_brand_score", "weighted_price_quantiles",
    "word_containment_pairs", "bloom_semijoin_lineitem",
    "target_encode_brand_returns", "kcenter_coreset",
    "spearman_price_qty", "minhash_recall", "bloom_corpus_membership",
    "negative_samples_parts", "cluster_representatives",
    "embedding_ann_recall", "dedup_clusters_star",
    "order_concurrency_peak", "blocking_quality_orders", "rfm_segments",
    "ppr_copurchase_seeds", "ngram_span_coverage", "recsys_hitrate_at3",
    "char_entropy_quality", "exact_substr_dedup",
    "incremental_substr_matches", "unigram_token_counts",
    "embedding_ann_pq", "quality_funnel", "semantic_dedup",
    "oph_minhash_neardup", "tokenizer_compression_compare",
]

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/spark_graft_sf1"
SF3 = "/tmp/spark_graft_sf3"

# r11 (r10 verdict #4): the sf0.1->sf1 sweep's steepest still-sublinear
# growers — close enough to linear that fixed costs could mask a
# superlinear term; a second empirical point (sf1->sf3, expected <= 3x
# for linear) separates the two.
SF3_QUERIES = [
    "ann_hard_negatives", "part_golden_records", "embedding_moments",
    "word_containment_pairs", "q4_priority_exists", "word_jaccard_pairs",
]


def main(all_queries: bool = False, sf3: bool = False) -> int:
    """Default: the 40-query deep cut (cold + median-of-3). With
    ``--all`` (r10, r9 verdict #4): EVERY registry query at both SFs,
    cold + ONE probe each — 2 runs/query/SF bounds the full-registry
    sweep to a few hours while still separating staging/codegen (cold)
    from steady state (probe); writes BENCH_sf1_all.json so the
    deep-cut artifact keeps its median-of-3 methodology. With
    ``--sf3`` (r11, r10 verdict #4): the SF3_QUERIES list measured at
    sf1 AND sf3 (30-replica synthesis), writes BENCH_sf3.json with
    sf1->sf3 growth (linear = 3.0)."""
    import __spark_entry__ as entry
    from redshift_to_pendo_api_data_pipeline_spark.session import get_spark

    if not os.path.exists(f"{SF1}/part.parquet"):
        import tools.gen_sf1 as gen
        gen.main()
    if sf3 and not os.path.exists(f"{SF3}/part.parquet"):
        import tools.gen_sf1 as gen
        gen.main(dst=SF3, n_replicas=30)

    os.environ["SPARK_GRAFT_STAGE_REUSE"] = "1"
    os.environ["SPARK_GRAFT_STAGE_ROOT"] = f"/tmp/sf1_bench_stage_{os.getpid()}"

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    if sf3:
        names = SF3_QUERIES
    elif all_queries:
        names = list(qs)
    else:
        names = QUERIES
    n_probe = 1 if all_queries else 3
    out: dict = {
        "per_query_stat": f"median_of_{n_probe}_after_cold",
        "queries": names,
    }
    sf_pairs = (
        (("sf1", SF1), ("sf3", SF3)) if sf3
        else (("sf0.1", SF01), ("sf1", SF1))
    )
    for label, sf in sf_pairs:
        med, cold = {}, {}
        for name in names:
            t = time.time()
            qs[name](spark, sf).count()
            cold[name] = round(time.time() - t, 3)
            ts = []
            for _ in range(n_probe):
                t = time.time()
                qs[name](spark, sf).count()
                ts.append(time.time() - t)
            med[name] = round(sorted(ts)[len(ts) // 2], 3)
            print(f"{label} {name}: cold {cold[name]} median {med[name]}",
                  flush=True)
        out[label] = {"queries": med, "cold": cold}
    lo, hi = sf_pairs[0][0], sf_pairs[1][0]
    out["growth"] = {
        n: round(out[hi]["queries"][n] / max(out[lo]["queries"][n], 1e-9), 2)
        for n in names
    }
    out["growth_cold"] = {
        n: round(out[hi]["cold"][n] / max(out[lo]["cold"][n], 1e-9), 2)
        for n in names
    }
    if sf3:
        fname = "BENCH_sf3.json"
    elif all_queries:
        fname = "BENCH_sf1_all.json"
    else:
        fname = "BENCH_sf1.json"
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), fname)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(
        all_queries="--all" in sys.argv[1:],
        sf3="--sf3" in sys.argv[1:],
    ))
