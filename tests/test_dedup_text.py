"""Dedup suite + text analysis + similarity search."""

import pytest
from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators import dedup as D
from redshift_to_pendo_api_data_pipeline_spark.operators import similarity as S
from redshift_to_pendo_api_data_pipeline_spark.operators import text as TX
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import load_table


def _docs_with_dups(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the  quick BROWN fox jumps over the lazy dog"),   # exact dup after normalize
        (3, "The quick brown fox jumps over the lazy cat"),    # near dup
        (4, "Completely different content about spark engines"),
        (5, ""),                                                # empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    df = _docs_with_dups(spark)
    out = D.exact_dedup(df, "text", "doc_id").orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert 1 in ids and 2 not in ids  # doc 2 collapsed into 1
    assert {r["doc_id"]: r["dup_count"] for r in out}[1] == 2


def test_minhash_neardup_finds_planted_pair(spark):
    df = _docs_with_dups(spark)
    pairs = D.minhash_dedup_pairs(df, "text", "doc_id", threshold=0.6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got          # normalized-identical
    assert (1, 3) in got or (2, 3) in got  # planted near-dup survives verify
    assert all(a < b for a, b in got)
    # jaccard bounded
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in pairs)


def test_minhash_lsh_is_jvm_only(spark):
    """The signature/banding path must not contain a Python UDF node —
    scale requirement: no Python in the candidate-generation hot path."""
    df = _docs_with_dups(spark)
    plan = D.minhash_lsh_candidates(df, "text", "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_pairs(spark):
    df = _docs_with_dups(spark)
    pairs = D.simhash_dedup_pairs(df, "text", "doc_id", max_hamming=12, bands=4)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 0  # same normalized tokens
    # deterministic across runs (blake2b, not PYTHONHASHSEED)
    got2 = {(r["id_a"], r["id_b"]): r["hamming"]
            for r in D.simhash_dedup_pairs(df, "text", "doc_id", 12, 4).collect()}
    assert got == got2


def test_embedding_neardup_and_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # self-similarity sanity: every vector's top-1 against itself is 1.0
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    top = S.brute_force_topk(emb, "embedding", "vec_id", list(q), k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["cosine"] - 1.0) < 1e-6
    assert [r["cosine"] for r in top] == sorted((r["cosine"] for r in top), reverse=True)


def test_lsh_topk_recall_on_clusters(spark):
    """LSH recall is only meaningful on data with neighborhood structure
    (the sf embeddings are near-orthogonal random vectors). Plant 20
    clusters of noise-perturbed copies; multi-table LSH must recover most
    of the true top-10 (same-cluster vectors, cosine ~0.99)."""
    import random

    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(20):
        center = [rng.gauss(0, 1) for _ in range(16)]
        for _ in range(12):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in center]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[30][1]  # a member of cluster 2
    exact = [r["vec_id"] for r in
             S.brute_force_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    approx = [r["vec_id"] for r in
              S.lsh_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    assert approx[0] == exact[0] == 30
    assert len(set(exact) & set(approx)) >= 8

    # and on the unstructured sf data it still returns the query itself
    # (exactness of the re-rank, not recall, is the contract there)


def test_lsh_topk_query_recovery(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 7).select("embedding").first()["embedding"]
    approx = S.lsh_topk(emb, "embedding", "vec_id", list(q), k=10).collect()
    assert approx[0]["vec_id"] == 7 and abs(approx[0]["cosine"] - 1.0) < 1e-6


def test_vector_mean_udaf_matches_jvm_centroids(spark, sf_dir):
    """GROUPED_AGG pandas UDAF == posexplode+avg JVM path, per label."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    jvm = {(r["label"], r["dim"]): r["c"]
           for r in S.label_centroids(emb, "embedding", "label").collect()}
    udaf_rows = emb.groupBy("label").agg(
        S.vector_mean_udaf()(F.col("embedding")).alias("centroid")
    ).collect()
    for r in udaf_rows:
        for d, x in enumerate(r["centroid"]):
            assert abs(jvm[(r["label"], d)] - round(x, 6)) < 2e-6


def test_ivf_topk_recall_on_clusters(spark):
    """Same planted-cluster corpus as the LSH test: IVF with n_list=20
    must put same-cluster members in the probed lists and recover the
    true top-10 near-exactly."""
    import random

    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(20):
        center = [rng.gauss(0, 1) for _ in range(16)]
        for _ in range(12):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in center]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[30][1]
    exact = [r["vec_id"] for r in
             S.brute_force_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    approx = [r["vec_id"] for r in
              S.ivf_topk(emb, "embedding", "vec_id", q, k=10,
                         n_list=20, n_probe=3).collect()]
    assert approx[0] == exact[0] == 30
    assert len(set(exact) & set(approx)) >= 8


def test_ivf_deterministic_and_recovers_query(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") == 7).first()["embedding"]
    a = S.ivf_topk(emb, "embedding", "vec_id", list(q), k=10).collect()
    b = S.ivf_topk(emb, "embedding", "vec_id", list(q), k=10).collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]  # no RNG anywhere
    assert a[0]["vec_id"] == 7 and abs(a[0]["cosine"] - 1.0) < 1e-6


def test_repetition_stats_flags_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),
            (2, "every word here is completely unique today"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.repetition_stats(df).collect()}
    assert out[1]["dup_word_frac"] == 0.75            # 2 distinct / 8 words
    assert out[1]["top_bigram_frac"] > 0.5            # "buy now" dominates
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["top_bigram_frac"] <= 1.0 / 6 + 1e-6  # all bigrams unique


def test_redact_pii_scrubs_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com or alice@test.org for info"),
            (2, "server at 192.168.1.100 responded"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.redact_pii(df).collect()}
    assert out[1]["n_email"] == 2 and "@" not in out[1]["text_redacted"]
    assert out[1]["text_redacted"].count("<EMAIL>") == 2
    assert out[2]["n_ipv4"] == 1 and "192.168" not in out[2]["text_redacted"]
    assert out[3]["n_phone"] == 1 and "<PHONE>" in out[3]["text_redacted"]
    assert out[4]["text_redacted"] == "clean text with no identifiers at all"
    assert out[4]["n_email"] == out[4]["n_ipv4"] == out[4]["n_phone"] == 0
    # one codegen stage: no shuffle, no Python in the plan
    plan = TX.redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_connected_components_clusters_pairs(spark):
    """Chain 1-2-3 merges into one cluster (transitivity); 10-11 stays
    separate; a node seen only in a self-loop (7) is its own cluster;
    cluster id = min member."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 3), (7, 7)], "id_a long, id_b long"
    )
    out = {r["node"]: r["cluster_id"]
           for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 1, 7: 7, 10: 10, 11: 10}
    # crossover contract: the driver union-find (small graphs) and the
    # distributed star contraction (max_driver_edges=0 forces it)
    # return identical rows — same node set, same min-member cluster ids
    dist = {r["node"]: r["cluster_id"]
            for r in D.connected_components(
                pairs, max_driver_edges=0).collect()}
    assert dist == out


def test_benchmark_contamination_flags_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the capital of france is paris and it is large"),
            (2, "unrelated text about spark physical plans"),
            (3, "what is the capital of france exactly"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "Q: the capital of france is what city?")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_hits"] for r in
           D.benchmark_contamination(corpus, eval_set, "text", "doc_id", n=4).collect()}
    assert 1 in out          # shares "the capital of france" 4-gram
    assert 3 in out
    assert 2 not in out      # clean doc untouched
    # broadcast side is the eval grams: plan must not shuffle the corpus
    plan = D.benchmark_contamination(
        corpus, eval_set, "text", "doc_id", n=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_text_analysis_features(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat on a mat in the sun"),
            (2, "el perro y el gato en la casa con un amigo es bueno"),
            (3, "xyzzy qwerty!!! 123"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.analyze_documents(df).collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[2]["lang_pred"] == "es"
    assert out[3]["lang_pred"] == "und"
    assert out[1]["n_tokens"] == 12
    assert out[3]["n_subwords"] >= 5  # xyzzy, qwerty, !, !, !, 123
    assert 0.0 <= out[1]["quality"] <= 1.0
    # fingerprint is order/repeat-invariant
    df2 = spark.createDataFrame(
        [(1, "dog cat the"), (2, "the the cat dog")], "doc_id long, text string"
    )
    fps = [r["fingerprint"] for r in
           df2.select(TX.fingerprint(F.col("text")).alias("fingerprint")).collect()]
    assert fps[0] == fps[1]


def test_text_analysis_single_codegen_stage(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = TX.analyze_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("WholeStageCodegen") <= 2  # one scan-project stage (+exchange-free)


def test_incremental_neardup_new_vs_corpus(spark, tmp_path):
    # corpus holds docs 1/3/4; the "new batch" brings 2 (near-dup of 1)
    # and 6 (novel). Asymmetric LSH must pair 2 with 1 and leave 6 out —
    # and never pair corpus docs with each other (3 vs 1 is a near-dup
    # pair inside the corpus; an incremental pass must not re-find it).
    docs = _docs_with_dups(spark).union(
        spark.createDataFrame(
            [(6, "Entirely novel text about something else entirely")],
            "doc_id long, text string",
        )
    )
    new = docs.where(F.col("doc_id").isin(2, 6))
    corpus = docs.where(F.col("doc_id").isin(1, 3, 4))
    pairs = D.incremental_minhash_neardup(
        new, corpus, docs, "text", "doc_id",
        stage_new=str(tmp_path / "sn.parquet"),
        stage_corpus=str(tmp_path / "sc.parquet"),
        threshold=0.5,
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (2, 1) in got
    new_ids = {2, 6}
    assert all(a in new_ids and b not in new_ids for a, b in got)


def test_prefix_filtered_jaccard_equals_all_pairs(spark):
    # the prefix-filter index join must reproduce the naive blocked
    # all-pairs result exactly (pairs AND jaccard values) — the classical
    # SSJoin correctness guarantee, pinned on a fixture with dup, near-dup,
    # disjoint and empty docs across two blocks
    rows = [
        (1, "a", "the quick brown fox jumps over the lazy dog"),
        (2, "a", "the quick brown fox jumps over the lazy cat"),
        (3, "a", "entirely different words here today my friend"),
        (4, "a", ""),
        (5, "b", "the quick brown fox jumps over the lazy dog"),  # other block
        (6, "b", "the quick brown fox jumps over the lazy dog"),
        (7, "b", "short text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    naive_docs = docs.select(
        "doc_id", "source",
        F.array_distinct(
            F.transform(
                F.split(D.normalize_text(F.col("text")), " "),
                lambda x: F.xxhash64(x),
            )
        ).alias("w"),
    ).withColumn("n", F.size("w"))
    a = naive_docs.select("source", F.col("doc_id").alias("id_a"),
                          F.col("w").alias("w_a"), F.col("n").alias("n_a"))
    b = naive_docs.select("source", F.col("doc_id").alias("id_b"),
                          F.col("w").alias("w_b"), F.col("n").alias("n_b"))
    inter = F.size(F.array_intersect("w_a", "w_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    naive = (
        a.join(b, (a["source"] == b["source"]) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )
    fast = D.prefix_filtered_jaccard_pairs(docs, "text", "doc_id", "source", 0.5)
    n_rows = sorted(tuple(r) for r in naive.collect())
    f_rows = sorted(tuple(r) for r in fast.collect())
    assert n_rows == f_rows
    assert any(r[0] == 5 and r[1] == 6 for r in f_rows)  # exact dup found
    assert all(not (r[0] == 1 and r[1] == 3) for r in f_rows)  # disjoint absent


def test_prefix_filtered_jaccard_randomized_equivalence(spark):
    # seeded random corpora (skewed vocab so pairs exist at several
    # similarity levels, plus empty and single-word docs): prefix filter
    # must equal naive all-pairs on every corpus
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        rows = []
        for doc_id in range(40):
            k = rng.choice([0, 1, 3, 8, 15])
            words = [vocab[min(int(rng.expovariate(0.2)), 29)] for _ in range(k)]
            rows.append((doc_id, rng.choice(["x", "y"]), " ".join(words)))
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

        naive_docs = docs.select(
            "doc_id", "source",
            F.array_distinct(
                F.transform(
                    F.split(D.normalize_text(F.col("text")), " "),
                    lambda x: F.xxhash64(x),
                )
            ).alias("w"),
        ).withColumn("n", F.size("w"))
        a = naive_docs.select("source", F.col("doc_id").alias("id_a"),
                              F.col("w").alias("w_a"), F.col("n").alias("n_a"))
        b = naive_docs.select("source", F.col("doc_id").alias("id_b"),
                              F.col("w").alias("w_b"), F.col("n").alias("n_b"))
        inter = F.size(F.array_intersect("w_a", "w_b"))
        jac = inter / (F.col("n_a") + F.col("n_b") - inter)
        naive = (
            a.join(b, (a["source"] == b["source"]) & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= 0.5)
        )
        fast = D.prefix_filtered_jaccard_pairs(docs, "text", "doc_id", "source", 0.5)
        n_rows = sorted(tuple(r) for r in naive.collect())
        f_rows = sorted(tuple(r) for r in fast.collect())
        assert n_rows == f_rows, f"seed {seed}: {len(n_rows)} vs {len(f_rows)}"
        assert len(n_rows) > 0, f"seed {seed} generated no pairs - fixture too weak"


def test_ivf_persisted_index_partition_pruned_probe(spark, sf_dir, tmp_path):
    """The serving shape: build_ivf_index writes partitionBy(__cluster);
    a probe must (a) return exactly what the in-job ivf_topk returns and
    (b) plan as a partition-PRUNED scan — PartitionFilters on __cluster,
    with only n_probe of n_list partition directories surviving."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = list(emb.where(F.col("vec_id") == 7).first()["embedding"])
    index_path = str(tmp_path / "ivf_index.parquet")
    centroids = S.build_ivf_index(emb, "embedding", "vec_id", index_path, n_list=8)

    served = S.ivf_topk_persisted(
        spark, index_path, centroids, "embedding", "vec_id", q, k=10, n_probe=3
    )
    in_job = S.ivf_topk(
        emb, "embedding", "vec_id", q, k=10, n_list=8, n_probe=3
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in served.collect()] == [
        (r["vec_id"], r["cosine"]) for r in in_job
    ]

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the pruned scan must touch only the probed lists, not all n_list
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "__cluster" in m.group(1)


def test_stage_reuse_rejects_stale_geometry(spark, sf_dir, tmp_path, monkeypatch):
    """r6 advice: under SPARK_GRAFT_STAGE_REUSE=1 a staged quantizer
    sidecar whose geometry differs from the caller's request (n_list /
    m_sub / k_codes changed between runs) must be invalidated and
    retrained, never silently served stale."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    monkeypatch.setenv("SPARK_GRAFT_STAGE_REUSE", "1")

    cpath = str(tmp_path / "cents.parquet")
    c8 = S.staged_ivf_centroids(emb, "embedding", "vec_id", cpath,
                                n_list=8, n_iter=1)
    assert c8.shape[0] == 8
    c4 = S.staged_ivf_centroids(emb, "embedding", "vec_id", cpath,
                                n_list=4, n_iter=1)
    assert c4.shape[0] == 4  # retrained at the requested shape
    # matching geometry still reuses: exact same table comes back
    again = S.staged_ivf_centroids(emb, "embedding", "vec_id", cpath,
                                   n_list=4, n_iter=1)
    assert (again == c4).all()

    bpath = str(tmp_path / "books.parquet")
    b = S.staged_pq_codebooks(emb, "embedding", "vec_id", bpath,
                              m_sub=4, k_codes=16, n_iter=1)
    assert b.shape[:2] == (4, 16)
    b2 = S.staged_pq_codebooks(emb, "embedding", "vec_id", bpath,
                               m_sub=2, k_codes=8, n_iter=1)
    assert b2.shape[:2] == (2, 8)

    ipath = str(tmp_path / "idx.parquet")
    S.build_ivf_index(emb, "embedding", "vec_id", ipath, n_list=8)
    c2 = S.build_ivf_index(emb, "embedding", "vec_id", ipath, n_list=4)
    assert c2.shape[0] == 4
    # the index itself was rebuilt at the new layout: max partition id < 4
    clusters = {r["__cluster"] for r in
                spark.read.parquet(ipath).select("__cluster").distinct().collect()}
    assert clusters <= set(range(4))


def test_semantic_dedup_drops_lower_id_neighbors(spark, tmp_path):
    import itertools
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8))
    rows = []
    # 3 well-separated base vectors, each with a near-duplicate copy
    for i in range(3):
        v = base[i] / np.linalg.norm(base[i])
        rows.append((2 * i, [float(x) for x in v]))
        dup = v + rng.normal(scale=0.01, size=8)
        dup = dup / np.linalg.norm(dup)
        rows.append((2 * i + 1, [float(x) for x in dup]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.semantic_dedup(
        df, "embedding", "vec_id",
        stage_path=str(tmp_path / "assign.parquet"),
        n_list=3, threshold=0.95,
    ).collect()
    kept = {r["vec_id"] for r in out if r["kept"]}
    cl = {r["vec_id"]: r["cluster"] for r in out}
    assert len(out) == 6
    # rule: dropped iff a lower-id same-cluster neighbor has cos >= t;
    # every pair (2i, 2i+1) has cos ~0.9999, so whenever the pair landed
    # in the same cluster the odd id must be dropped
    for i in range(3):
        if cl[2 * i] == cl[2 * i + 1]:
            assert 2 * i in kept and 2 * i + 1 not in kept
    # no two kept vectors in the same cluster are near-dups
    vecs = dict(rows)
    for a, b in itertools.combinations(sorted(kept), 2):
        if cl[a] == cl[b]:
            cos = float(np.dot(vecs[a], vecs[b]))
            assert cos < 0.95


def test_bloom_membership_no_false_negatives_and_exact(spark):
    """Every true gram-sharing doc is found (Bloom has no false
    negatives) and the exact-verify stage removes all false positives,
    even with an adversarially tiny filter (m=64 -> heavy FP rate)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        bloom_gram_membership, exploded_shingles,
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    out = {
        r["doc_id"]: (r["shared_grams"], r["is_hit"])
        for r in bloom_gram_membership(
            batch, corpus, "text", "doc_id", n=5, m=64, k=2
        ).collect()
    }
    bg = exploded_shingles(batch, "text", "doc_id", n=5).distinct()
    cg = exploded_shingles(corpus, "text", "doc_id", n=5).select("sh").distinct()
    truth = {
        r["doc"]: r["n"]
        for r in bg.join(cg, "sh").groupBy("doc")
        .agg(F.count_distinct("sh").alias("n")).collect()
    }
    assert len(out) == batch.count()
    for doc, (sg, hit) in out.items():
        assert sg == truth.get(doc, 0)
        assert hit == (1 if doc in truth else 0)


def test_distinctive_terms_top1_is_most_overrepresented(spark):
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        distinctive_terms,
    )
    rows = [
        (0, "apple apple apple banana", "a"),
        (1, "apple banana banana banana", "b"),
        (2, "cherry cherry cherry cherry", "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string")
    top = {
        r["source"]: r["term"]
        for r in distinctive_terms(df, "text", "source", top_k=1).collect()
    }
    assert top == {"a": "apple", "b": "banana", "c": "cherry"}


def test_keyness_exact_at_adversarial_magnitudes(spark):
    """The keyness numerator a*N - rowtot*coltot must stay EXACT when the
    products exceed BIGINT (SCALE.md §9.9): counts ~1e13 per cell give
    N ~ 4e13 and products ~1e27 — 9 digits past int64. The DECIMAL(38,0)
    path must match Python bigints digit-for-digit."""
    from decimal import Decimal

    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        _keyness_scores,
    )

    cells = [
        ("g1", "the", 9_999_999_999_999),
        ("g1", "rare", 3),
        ("g2", "the", 12_345_678_901_234),
        ("g2", "zebra", 17_000_000_000_001),
    ]
    df = spark.createDataFrame(cells, "grp string, tok string, a long")
    got = {
        (r["grp"], r["tok"]): r["keyness"]
        for r in _keyness_scores(df, top_k=10).collect()
    }
    n = sum(a for _, _, a in cells)
    rowtot = {}
    coltot = {}
    for g, t, a in cells:
        rowtot[g] = rowtot.get(g, 0) + a
        coltot[t] = coltot.get(t, 0) + a
    expects = {(g, t): a * n - rowtot[g] * coltot[t] for g, t, a in cells}
    assert any(abs(v) > 2**63 for v in expects.values()), (
        "fixture must actually exceed BIGINT"
    )
    for key, expect in expects.items():
        assert got[key] == Decimal(expect)


def test_bpe_pair_counts_match_python(spark):
    rows = [(0, "hello hello world"), (1, "help the world")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {(r["pair"], r["n"]) for r in
           TX.bpe_merge_pair_counts(df, "text", top_k=100).collect()}
    from collections import Counter
    c = Counter()
    for _, t in rows:
        for w in t.split():
            for i in range(len(w) - 1):
                c[w[i:i + 2]] += 1
    assert out == set(c.items())


def test_bpe_train_matches_reference(spark):
    corpus = ["low lower lowest low low", "newer newest new low"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                               "doc_id int, text string")
    got = TX.bpe_train(df, "text", n_merges=5)

    # pure-Python reference: same leftmost-first merge, count-desc then
    # lexicographic tiebreak
    from collections import Counter
    words = [list(w) for t in corpus for w in t.split()]
    want = []
    for _ in range(5):
        c = Counter()
        for syms in words:
            for i in range(len(syms) - 1):
                c[(syms[i], syms[i + 1])] += 1
        if not c:
            break
        pair = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if c[pair] < 2:
            break
        want.append(pair)
        a, b = pair
        for syms in words:
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms[:] = out
    assert got == want and len(got) == 5


def test_bucketed_neardup_subset_of_exact_with_recall(spark, tmp_path):
    """Bucketed pairs are exactly the exact-cosine pairs that share a
    bucket: a subset of the exact all-pairs result (no false pairs), and
    on the clustered synthetic embeddings the single-table bucketing
    keeps useful recall."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    got = {(r["id_a"], r["id_b"]) for r in S.bucketed_neardup_pairs(
        emb, "embedding", "vec_id",
        stage_path=str(tmp_path / "buckets.parquet"), threshold=0.45,
    ).collect()}
    exact = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.45,
    ).collect()}
    assert got <= exact
    if exact:
        assert len(got) / len(exact) >= 0.2  # single table; union raises it


def test_bloom_positions_bounded_by_k_times_m(spark):
    """The broadcastable summary's whole contract: the position table
    never exceeds k*m rows no matter the corpus size."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        bloom_gram_positions, exploded_shingles,
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    grams = exploded_shingles(docs, "text", "doc_id", n=3)
    m, k = 32, 3
    pos = bloom_gram_positions(grams, m=m, k=k)
    rows = pos.collect()
    assert len(rows) <= k * m
    assert all(0 <= r["pos"] < m and 0 <= r["seed"] < k for r in rows)
    assert len({(r["seed"], r["pos"]) for r in rows}) == len(rows)


def test_bpe_train_local_distributed_and_batched_all_agree(spark, sf_dir):
    """Three paths, one merge list: (a) local finish over the collected
    word-count vocabulary, (b) distributed weighted loop with safe
    batching, (c) distributed strictly-sequential (batch_cap=1). All
    must produce EXACTLY the same 24 merges on real text — (a) by the
    weighted-count identity, (b) by the safe-batch proof."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    stats_l, stats_b, stats_s = {}, {}, {}
    local = TX.bpe_train(docs, "text", n_merges=24, _stats=stats_l)
    batched = TX.bpe_train(docs, "text", n_merges=24, batch_cap=32,
                           local_vocab_rows=0, _stats=stats_b)
    sequential = TX.bpe_train(docs, "text", n_merges=24, batch_cap=1,
                              local_vocab_rows=0, _stats=stats_s)
    assert local == batched == sequential
    assert len(local) == 24
    assert stats_l["mode"] == "local" and stats_l["count_passes"] == 0
    assert stats_b["mode"] == "distributed"
    assert stats_s["count_passes"] == 24
    assert stats_b["count_passes"] <= stats_s["count_passes"]


def test_unigram_train_local_and_distributed_agree(spark, sf_dir):
    """r8 (r7 verdict #7): Viterbi-EM unigram training runs the SAME
    integer control flow on both paths — the collected-dictionary
    local finish and the pandas-UDF distributed E-step must produce a
    bit-identical (piece, cost_fp) table on real text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    stats_l, stats_d = {}, {}
    local = TX.unigram_train(
        docs, "text", vocab_size=120, n_em=2, _stats=stats_l
    )
    dist = TX.unigram_train(
        docs, "text", vocab_size=120, n_em=2,
        local_vocab_rows=0, _stats=stats_d,
    )
    assert stats_l["mode"] == "local" and stats_d["mode"] == "distributed"
    assert local == dist
    assert len(local) <= 120
    pieces = dict(local)
    assert all(c > 0 for c in pieces.values())
    # every single character of the corpus vocabulary survives pruning
    # (the always-segmentable invariant)
    chars_in_vocab = {p for p in pieces if len(p) == 1}
    assert len(chars_in_vocab) >= 10


def test_unigram_viterbi_matches_bruteforce_min_cost(spark):
    """The DP segmentation must achieve the brute-force minimum total
    cost over ALL segmentations (pure-Python reference), and fall back
    to a character split for words with out-of-vocabulary chars."""
    import itertools

    costs = {"a": 5, "b": 7, "ab": 9, "ba": 6, "aba": 20, "bab": 8}

    def brute_min(word):
        n = len(word)
        best = None
        for cuts in itertools.product([0, 1], repeat=n - 1):
            pos = [0] + [i + 1 for i, c in enumerate(cuts) if c] + [n]
            segs = [word[pos[i]:pos[i + 1]] for i in range(len(pos) - 1)]
            if all(s in costs for s in segs):
                tot = sum(costs[s] for s in segs)
                if best is None or tot < best:
                    best = tot
        return best

    for word in ["ababab", "aabba", "bababa", "abba", "aaaa"]:
        got = TX._viterbi_segment(word, costs, max_piece_len=3)
        assert "".join(got) == word
        assert sum(costs[p] for p in got) == brute_min(word)

    # OOV char -> raw char split, never a crash
    assert TX._viterbi_segment("axb", costs, 3) == ["a", "x", "b"]


def test_unigram_learns_dominant_word_as_piece(spark):
    """A word dominating the corpus must survive as a single piece and
    segment as one token; rare words decompose into chars/subpieces."""
    rows = [(i, "hello " * 20 + "zq") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # vocab_size 7 = the 6 corpus chars + ONE multi-char slot: the
    # dominant "hello" must win it; "zq" gets pruned and falls to chars
    pieces = TX.unigram_train(df, "text", vocab_size=7, n_em=3)
    table = dict(pieces)
    assert "hello" in table
    assert "zq" not in table
    mapping = {
        (r["word"], r["token"]): r["k"]
        for r in TX.unigram_segment_words(df, "text", pieces).collect()
    }
    assert mapping[("hello", "hello")] == 1
    assert ("zq", "z") in mapping and ("zq", "q") in mapping


def test_unigram_cross_entropy_orders_common_below_rare(spark):
    """CCNet-style LM scoring: a doc made of the corpus-dominant word
    scores strictly lower cross-entropy than a doc of rare character
    sequences; integer identity checked against a hand fold."""
    rows = [(i, "hello world " * 10) for i in range(20)] + [
        (100, "hello world hello world"),
        (101, "zq xv qk vz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pieces = TX.unigram_train(df, "text", vocab_size=30, n_em=2)
    mapping = TX.unigram_segment_words(df, "text", pieces)
    pieces_df = spark.createDataFrame(
        [(p, int(c)) for p, c in pieces], "piece string, cost_fp long"
    )
    out = {
        r["doc_id"]: r
        for r in TX.unigram_doc_cross_entropy(
            df, "text", "doc_id", mapping, pieces_df
        ).collect()
    }
    assert out[100]["xent_fp"] < out[101]["xent_fp"]
    # hand identity on the common doc: 4 words, each one piece
    costs = dict(pieces)
    if "hello" in costs and "world" in costs:
        expect = (2 * costs["hello"] + 2 * costs["world"]) // 4
        assert out[100]["xent_fp"] == expect and out[100]["n_tokens"] == 4


def test_bpe_train_256_merges_one_corpus_pass(spark, sf_dir):
    """Real merge counts (SCALE §9.11 closure): 256 merges over the
    documents corpus must touch the corpus ONCE (the word-count pass)
    and finish on the driver-side vocabulary — zero per-merge Spark
    jobs, so wall-clock is the same class as a single aggregation, not
    256 of them."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    stats = {}
    merges = TX.bpe_train(docs, "text", n_merges=256, _stats=stats)
    # the sf0.001 corpus exhausts (every remaining pair count < 2)
    # before 256 — the correct BPE stop; the cost claim holds regardless
    assert 64 <= len(merges) <= 256
    assert len(set(merges)) == len(merges)  # no duplicate merges
    assert stats["mode"] == "local" and stats["count_passes"] == 0


def test_bucketed_neardup_multi_table_recall_dominates_single(spark, tmp_path):
    """n_tables is the recall lever: the 4-table union must find every
    pair the single table finds (same seed convention: table t uses
    seed + 1000*t, so table 0 IS the single-table run), stay a subset
    of the exact ground truth (precision 1), and on the clustered
    synthetic embeddings strictly improve recall."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    single = {(r["id_a"], r["id_b"]) for r in S.bucketed_neardup_pairs(
        emb, "embedding", "vec_id",
        stage_path=str(tmp_path / "t1.parquet"), threshold=0.45, n_tables=1,
    ).collect()}
    multi = {(r["id_a"], r["id_b"]) for r in S.bucketed_neardup_pairs(
        emb, "embedding", "vec_id",
        stage_path=str(tmp_path / "t4.parquet"), threshold=0.45, n_tables=4,
    ).collect()}
    exact = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.45,
    ).collect()}
    assert single <= multi <= exact
    assert len(multi) > len(single)


def test_editdist_pairs_dictionary_and_blocking(spark):
    """Linkage runs over the distinct-value dictionary with occurrence
    counts; pairs straddling blocks (different trailing token) are
    pruned by design; the length prefilter never drops a true pair."""
    rows = (
        [(i, "blue widget") for i in range(3)]
        + [(10, "blu widget"), (11, "blue widgets"), (12, "red gear"),
           (13, "red gers"), (14, "completely different name")]
    )
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["name_a"], r["name_b"]): (r["dist"], r["n_a"], r["n_b"])
           for r in D.editdist_pairs(df, "name", max_dist=2).collect()}
    assert got[("blu widget", "blue widget")] == (1, 1, 3)
    # 'blue widgets' blocks under 'widgets' — unreachable by design
    assert not any("blue widgets" in k for k in got)
    # different blocks never pair
    assert not any("red" in a and "widget" in b for a, b in got)


def test_pii_rate_matches_redaction_counts(spark):
    """The audit must predict exactly what redact_pii would touch."""
    rows = [
        (1, "mail bob@example.com and 10.0.0.1 twice: 10.0.0.2", "a"),
        (2, "call +1-555-123-4567 now", "a"),
        (3, "clean text", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in TX.pii_rate(df, "text", "source").collect()}
    assert out["a"]["n_docs"] == 2 and out["a"]["docs_with_pii"] == 2
    assert out["a"]["n_email"] == 1 and out["a"]["n_ipv4"] == 2
    assert out["a"]["n_phone"] == 1
    assert out["b"]["docs_with_pii"] == 0
    red = {r["doc_id"]: r for r in TX.redact_pii(df).collect()}
    assert red[1]["n_email"] == 1 and red[1]["n_ipv4"] == 2
    assert red[2]["n_phone"] == 1


def test_length_histogram_buckets_power_of_two(spark):
    rows = [(1, "one", "s"), (2, "a b c d", "s"), (3, " ".join(["w"] * 9), "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["len_bucket"]): (r["n_docs"], r["total_tokens"])
           for r in TX.length_histogram(df, "text", "source").collect()}
    # 1 token -> bucket 1; 4 tokens -> bucket 3 (100b); 9 tokens -> 4 (1001b)
    assert got[1] == (1, 1) and got[3] == (1, 4) and got[4] == (1, 9)


def test_ivf_index_append_serves_new_vectors_with_pruned_probe(spark, sf_dir, tmp_path):
    """Incremental IVF maintenance: append a new batch against the
    existing quantizer; a probe must (a) find an appended vector as its
    own top-1, (b) keep returning the original corpus unchanged, and
    (c) stay partition-pruned (no full-index scan after append)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    old = emb.where(F.col("vec_id") < 400)
    new = emb.where(F.col("vec_id") >= 400).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    index_path = str(tmp_path / "ivf.parquet")
    cents = S.build_ivf_index(old, "embedding", "vec_id", index_path, n_list=8)

    before = spark.read.parquet(index_path).count()
    assert S.ivf_index_append(
        new, "embedding", "vec_id", index_path, cents, batch_id="b-1"
    ) is True
    after = spark.read.parquet(index_path)
    expected = before + new.count()
    assert after.count() == expected

    # at-least-once replay of the SAME batch (job retry, streaming
    # replay, bench loop) must be a no-op, not a silent duplication
    assert S.ivf_index_append(
        new, "embedding", "vec_id", index_path, cents, batch_id="b-1"
    ) is False
    assert spark.read.parquet(index_path).count() == expected
    # a genuinely NEW batch id still appends
    new2 = new.withColumn("vec_id", F.col("vec_id") + 1000000)
    assert S.ivf_index_append(
        new2, "embedding", "vec_id", index_path, cents, batch_id="b-2"
    ) is True
    assert spark.read.parquet(index_path).count() == expected + new2.count()

    q_new = new.limit(1).collect()[0]
    top = S.ivf_topk_persisted(
        spark, index_path, cents, "embedding", "vec_id",
        list(q_new["embedding"]), k=3, n_probe=3,
    )
    rows = top.collect()
    assert rows[0]["vec_id"] == q_new["vec_id"]
    assert abs(rows[0]["cosine"] - 1.0) < 1e-6
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(__cluster" in plan or \
        "__cluster#" in plan.split("PartitionFilters")[1][:200]

    # original corpus still served identically for an old query vector
    q_old = old.where(F.col("vec_id") == 7).collect()[0]
    t_old = [r["vec_id"] for r in S.ivf_topk_persisted(
        spark, index_path, cents, "embedding", "vec_id",
        list(q_old["embedding"]), k=1, n_probe=3).collect()]
    assert t_old == [7]


def test_ivf_append_marker_names_injective_after_sanitization(spark, sf_dir, tmp_path):
    """'b 1' and 'b_1' sanitize to the same safe string; the sha1 suffix
    keeps their markers distinct, so the second (genuinely different)
    batch must append rather than be dropped as a deduped replay."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.where(F.col("vec_id") < 200)
    index_path = str(tmp_path / "ivf_inj.parquet")
    cents = S.build_ivf_index(base, "embedding", "vec_id", index_path, n_list=4)
    n0 = spark.read.parquet(index_path).count()

    b1 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 220)) \
        .withColumn("vec_id", F.col("vec_id") + 10000)
    b2 = b1.withColumn("vec_id", F.col("vec_id") + 10000)
    assert S.ivf_index_append(
        b1, "embedding", "vec_id", index_path, cents, batch_id="b 1") is True
    assert S.ivf_index_append(
        b2, "embedding", "vec_id", index_path, cents, batch_id="b_1") is True
    assert spark.read.parquet(index_path).count() == n0 + b1.count() + b2.count()
    # and each id individually still dedupes its own replay
    assert S.ivf_index_append(
        b1, "embedding", "vec_id", index_path, cents, batch_id="b 1") is False


def test_embedding_neardup_autosized_blocks_match_fixed_blocks(spark, sf_dir):
    """n_blocks=None auto-sizes from a column-pruned count; the result
    set is identical to any explicit blocking (blocking only partitions
    the pair space, never changes it)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).where(F.col("vec_id") < 300)
    auto = {(r["id_a"], r["id_b"], r["cosine"]) for r in D.embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.45).collect()}
    fixed = {(r["id_a"], r["id_b"], r["cosine"]) for r in D.embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.45, n_blocks=5).collect()}
    assert auto == fixed and len(auto) > 0


def test_ivf_index_compact_preserves_layout_markers_and_results(spark, sf_dir, tmp_path):
    """After two appends the index holds per-batch small files; compaction
    must (a) keep every row, (b) emit one file per list, (c) keep probes
    partition-pruned and row-identical, and (d) carry the _append_*
    markers so a replay of an applied batch is still a no-op against the
    compacted path."""
    import os

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.where(F.col("vec_id") < 300)
    index_path = str(tmp_path / "ivf_c.parquet")
    cents = S.build_ivf_index(base, "embedding", "vec_id", index_path, n_list=4)

    b1 = emb.where((F.col("vec_id") >= 300) & (F.col("vec_id") < 330)) \
        .withColumn("vec_id", F.col("vec_id") + 10000)
    b2 = emb.where((F.col("vec_id") >= 330) & (F.col("vec_id") < 360)) \
        .withColumn("vec_id", F.col("vec_id") + 20000)
    assert S.ivf_index_append(b1, "embedding", "vec_id", index_path, cents, batch_id="c1")
    assert S.ivf_index_append(b2, "embedding", "vec_id", index_path, cents, batch_id="c2")
    n_total = spark.read.parquet(index_path).count()

    out_path = str(tmp_path / "ivf_c_v2.parquet")
    stats = S.ivf_index_compact(spark, index_path, out_path)
    assert stats["rows"] == n_total
    assert stats["files_out"] <= 4 < stats["files_in"]  # one file per list
    for d in os.listdir(out_path):
        if d.startswith("__cluster="):
            parts = [f for f in os.listdir(f"{out_path}/{d}") if f.endswith(".parquet")]
            assert len(parts) == 1, (d, parts)

    # probe the compacted index: identical rows, still partition-pruned
    q = b1.limit(1).collect()[0]
    for path in (index_path, out_path):
        rows = S.ivf_topk_persisted(
            spark, path, cents, "embedding", "vec_id",
            list(q["embedding"]), k=5, n_probe=2,
        ).collect()
        assert rows[0]["vec_id"] == q["vec_id"]
        if path == index_path:
            expected = [(r["vec_id"], r["cosine"]) for r in rows]
        else:
            assert [(r["vec_id"], r["cosine"]) for r in rows] == expected

    # replay of an applied batch no-ops against the COMPACTED path
    assert S.ivf_index_append(
        b1, "embedding", "vec_id", out_path, cents, batch_id="c1") is False
    assert spark.read.parquet(out_path).count() == n_total


def test_pq_adc_inline_matches_join_form_and_is_exchange_free(spark, sf_dir):
    """The literal-LUT ADC fold must return exactly the staged/join
    form's rows (same integer LUT -> same sums), with a plan that is ONE
    narrow scan: no Exchange, no join, top-k via TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = S.train_pq_codebooks(emb, "embedding", "vec_id", m_sub=4,
                                 k_codes=16, n_iter=2)
    codes = S.pq_encode(emb, "embedding", "vec_id", books)
    q = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    lut = spark.createDataFrame(S.pq_adc_lut(books, q),
                                "sub int, code int, score_fp long")
    joined = [(r["vec_id"], r["adc_score"])
              for r in S.pq_adc_topk(codes, lut, "vec_id", k=20).collect()]
    inline_df = S.pq_adc_topk_inline(codes, books, q, "vec_id", k=20)
    inline = [(r["vec_id"], r["adc_score"]) for r in inline_df.collect()]
    assert inline == joined and len(joined) == 20
    # a corpus vector's own codes maximize its own LUT: self-recovery
    assert joined[0][0] == 0

    # plan shape on the production path (codes read back from parquet,
    # where an ANN serving job would scan them)
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        codes.write.parquet(f"{td}/codes.parquet")
        staged = spark.read.parquet(f"{td}/codes.parquet")
        p = S.pq_adc_topk_inline(staged, books, q, "vec_id", k=20) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p
        assert "TakeOrderedAndProject" in p
        assert "Join" not in p


def test_pq_rerank_recovers_recall_over_raw_adc(spark, sf_dir):
    """The production IVF-PQ composition: ADC is a coarse integer filter
    (recall@20 is mediocre on near-orthogonal synthetic vectors by
    design), so serving re-ranks the ADC top-C with exact cosine —
    recall@20 after re-ranking top-100 must strictly beat raw ADC and
    the re-rank must contain the true top-1."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = S.train_pq_codebooks(emb, "embedding", "vec_id", m_sub=4,
                                 k_codes=16, n_iter=2)
    codes = S.pq_encode(emb, "embedding", "vec_id", books)
    q = list(emb.where(F.col("vec_id") == 7).first()["embedding"])
    lut = spark.createDataFrame(S.pq_adc_lut(books, q),
                                "sub int, code int, score_fp long")
    exact = [r["vec_id"] for r in
             S.brute_force_topk(emb, "embedding", "vec_id", q, k=20).collect()]

    adc20 = {r["vec_id"] for r in S.pq_adc_topk(codes, lut, "vec_id", k=20).collect()}
    cand = S.pq_adc_topk(codes, lut, "vec_id", k=100).select("vec_id")
    rerank = [r["vec_id"] for r in S.brute_force_topk(
        cand.join(emb, "vec_id"), "embedding", "vec_id", q, k=20).collect()]

    recall_adc = len(adc20 & set(exact)) / 20
    recall_rr = len(set(rerank) & set(exact)) / 20
    assert rerank[0] == exact[0] == 7
    assert recall_rr > recall_adc


def test_residual_adc_score_matches_reconstruction_dot(spark, sf_dir):
    """Residual IVF-PQ exactness contract: for every vector, the integer
    ADC score (per-list offset + residual LUT sum) must equal the
    fixed-point dot product of the query with the RECONSTRUCTION
    (centroid + decoded residual) within the rounding budget — each of
    the m_sub+1 fixed-point terms rounds independently, so the bound is
    (m_sub+1)/2 units, not approximate-similarity hand-waving."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).where(F.col("vec_id") < 200)
    cents = S.train_ivf_centroids(emb, "embedding", "vec_id", n_list=8, n_iter=2)
    assigned = S.ivf_assign(emb, "embedding", cents)
    res = assigned.select(
        "vec_id", "__cluster",
        S.ivf_residuals(assigned, "embedding", cents).alias("__res"),
    )
    books = S.train_pq_codebooks(res, "__res", "vec_id", m_sub=4, k_codes=8,
                                 n_iter=2)
    codes = S.pq_encode(res, "__res", "vec_id", books,
                        extra_cols=["__cluster"])
    q_row = emb.where(F.col("vec_id") == 3).first()
    q = list(q_row["embedding"])
    lut = spark.createDataFrame(S.pq_adc_lut(books, q),
                                "sub int, code int, score_fp long")
    offs = spark.createDataFrame(S.pq_cluster_offsets(cents, q),
                                 "cluster int, offset_fp long")
    got = {r["vec_id"]: r["adc_score"] for r in
           S.ivfpq_adc_topk(codes, lut, offs, "vec_id", k=200).collect()}

    qv = np.asarray(q)
    m_sub, _, sub_dim = books.shape
    scale = 10**6
    checked = 0
    for r in codes.collect():
        recon = np.array(cents[r["__cluster"]], dtype=np.float64).copy()
        for s, c in enumerate(r["codes"]):
            recon[s * sub_dim:(s + 1) * sub_dim] += books[s][c]
        expect = float(qv @ recon) * scale
        if r["vec_id"] in got:
            assert abs(got[r["vec_id"]] - expect) <= (m_sub + 1) / 2 + 1e-6
            checked += 1
    assert checked == 200


def test_bpe_segment_words_reproduces_trainer_state(spark):
    """Segmenting the training corpus with the learned merge list must
    reproduce the trainer's final symbol state: train 2 merges on a
    toy corpus ('lo' then 'lo'+'w' by count-desc/pair-asc), and the
    staged (word, token, k) mapping + broadcast-join histogram match
    the hand-derived segmentation."""
    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low lower")],
        "doc_id long, text string",
    )
    merges = TX.bpe_train(docs, "text", n_merges=2)
    assert merges == [("l", "o"), ("lo", "w")]
    mapping = {(r["word"], r["token"]): r["k"]
               for r in TX.bpe_segment_words(docs, "text", merges).collect()}
    assert mapping[("low", "low")] == 1
    assert mapping[("lower", "low")] == 1 and mapping[("lower", "e")] == 1
    assert mapping[("lowest", "s")] == 1 and mapping[("lowest", "t")] == 1
    counts = {r["token"]: r["n"] for r in TX.bpe_encode_counts(
        docs, "text", TX.bpe_segment_words(docs, "text", merges)).collect()}
    # 'low' x3 + 'lower' x2 + 'lowest' x1 -> token 'low' appears 6 times
    assert counts["low"] == 6
    assert counts["e"] == 3 and counts["r"] == 2 and counts["t"] == 1


def test_containment_catches_quote_in_doc_jaccard_misses(spark):
    """The asymmetric detector's reason to exist: a short doc fully
    quoted inside a long one has tiny Jaccard but containment 1.0 —
    containment_pairs must find it, the symmetric form must not; and
    containment equals the naive all-pairs definition on a random-ish
    fixture (exactness of the prefix-prune)."""
    quote = "alpha beta gamma delta epsilon"
    long_doc = quote + " " + " ".join(f"filler{i}" for i in range(45))
    rows = [
        (1, long_doc, "s"),
        (2, quote, "s"),
        (3, "totally unrelated words here now", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in
           D.containment_pairs(df, "text", "doc_id", "source", 0.8).collect()}
    assert got == {(1, 2): 1.0}
    jac = {(r["id_a"], r["id_b"]) for r in D.prefix_filtered_jaccard_pairs(
        df, "text", "doc_id", "source", 0.5).collect()}
    assert (1, 2) not in jac  # jaccard = 5/50 = 0.1: structurally missed

    # exactness vs the naive definition on overlapping vocabulary docs
    import random

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    rows2 = [(i, " ".join(rnd.sample(vocab, rnd.randint(5, 25))), f"b{i % 2}")
             for i in range(60)]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string, source string")
    w = df2.select(
        "doc_id", "source",
        F.array_distinct(F.split(F.lower("text"), " ")).alias("w"))
    a = w.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"),
                 F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"),
                 F.col("w").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    cont = F.round(inter / F.least(F.size("wa"), F.size("wb")), 6)
    naive = sorted(tuple(r) for r in
                   a.join(b, (F.col("sa") == F.col("sb"))
                          & (F.col("id_a") < F.col("id_b")))
                   .select("id_a", "id_b", cont.alias("containment"))
                   .where(F.col("containment") >= 0.7).collect())
    fast = sorted(tuple(r) for r in D.containment_pairs(
        df2, "text", "doc_id", "source", 0.7).collect())
    assert fast == naive and len(naive) > 0


def test_embedding_moments_exact_and_match_numpy_covariance(spark):
    """The fixed-point moment matrix reproduces numpy's population
    covariance to fp-quantization tolerance, is bit-stable across
    repartitionings (the exactness argument — float sums are not), and
    the plan is JVM-only with map-side partial aggregation."""
    import numpy as np

    rng = np.random.RandomState(3)
    m = rng.randn(300, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id long, embedding array<double>",
    )
    mom = S.embedding_moments_fp(df, "embedding")
    rows = mom.collect()
    assert len(rows) == 8 * 9 // 2
    cov = S.covariance_from_moments(rows, dim=8)
    want = np.cov(m, rowvar=False, bias=True)
    assert np.abs(cov - want).max() < 1e-5  # fp quantization at 1e-6

    # partition-order independence: exact same integers from 1 vs 13
    # partitions (a float-sum implementation would differ in rounding)
    again = sorted(map(tuple,
                       S.embedding_moments_fp(df.repartition(13), "embedding")
                       .collect()))
    assert again == sorted(map(tuple, rows))

    p = mom._jdf.queryExecution().executedPlan().toString()
    assert "partial" in p  # partials combine before the (i,j) exchange
    assert "MapInPandas" in p  # the declared int64-matmul BLAS edge


def test_incremental_editdist_pairs_asymmetric(spark):
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        incremental_editdist_pairs,
    )

    new = spark.createDataFrame(
        [("red bolt",), ("red bolt",), ("blue gear",)], ["name"]
    )
    corpus = spark.createDataFrame(
        [("rad bolt",), ("red bolt",), ("green widget",), ("blue hinge",)],
        ["name"],
    )
    got = {
        (r["name_new"], r["name_corpus"], r["dist"], r["n_new"],
         r["n_corpus"])
        for r in incremental_editdist_pairs(
            new, corpus, "name", max_dist=2).collect()
    }
    # same block 'bolt': red bolt matches itself (0) and rad bolt (1);
    # blue gear has no corpus 'gear' block partner; widget/hinge blocks
    # never meet the new batch
    assert got == {
        ("red bolt", "rad bolt", 1, 2, 1),
        ("red bolt", "red bolt", 0, 2, 1),
    }


def test_star_cc_equals_label_propagation_on_random_graphs(spark):
    import random

    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(11)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 50))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            edges = [(0, 1)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        lp = {
            (r["node"], r["cluster_id"])
            for r in connected_components(df).collect()
        }
        star = {
            (r["node"], r["cluster_id"])
            for r in connected_components_star(df).collect()
        }
        assert star == lp, f"trial {trial}: {sorted(star ^ lp)[:6]}"


def test_star_cc_long_chain_converges(spark):
    # a 60-node path: diameter 59 — label propagation's worst case is
    # exactly what the star contraction exists for
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["cluster_id"]
           for r in connected_components_star(df, max_iter=12).collect()}
    assert set(got.values()) == {0} and len(got) == 61
    # too few rounds to converge: an error, not a partial labelling
    with pytest.raises(RuntimeError, match="3 rounds"):
        connected_components_star(df, max_iter=3)
    # the over-cap path of connected_components converges on it too
    over_cap = {r["node"]: r["cluster_id"] for r in
                connected_components(df, max_driver_edges=0).collect()}
    assert set(over_cap.values()) == {0} and len(over_cap) == 61
