"""Repeated n-gram SPAN detection — word-granular substring dedup.

Document-level near-dup (MinHash/SimHash, operators/dedup.py) misses the
other duplication mode pretraining corpora suffer from: long verbatim
passages (licenses, boilerplate, quoted templates) embedded inside
otherwise-distinct documents. The standard remedy (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better") finds every
substring of length >= L that occurs more than once in the corpus. A
literal suffix array is a single-machine construction; the
Spark-native equivalent used here is the k-gram cover: a duplicated
substring of length >= k words is exactly a run of duplicated word
k-grams, so marking every token covered by a cross-document-duplicated
k-gram finds the same spans with one explode + two linear shuffles and
no all-pairs comparison anywhere.

Scale design (100 TB-first):
- positional k-grams are built with the same materialized-words-array
  discipline as dedup._grams_from_words (one split per row, no lambda
  re-evaluation);
- grams travel as md5 digests (fixed 32-byte shuffle keys, no long text
  on the wire; 2^-128 collision adds a false span, never drops one);
- duplicated-gram detection is a map-side-combined groupBy on the
  digest; the join back to positions re-uses the same key;
- span expansion is sequence() + explode (JVM), coverage is a distinct
  + count per doc. Every stage is linear in corpus tokens.

The reference has no dedup at all (it replicates rows 1:1,
tap-redshift/src/sync.py:176-198); this is widened training-pipeline
surface per BASELINE.json's north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
    _grams_from_words,
    normalize_text,
)


def positional_kgrams(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(doc, n_tokens, pos, g) — one row per k-gram START position
    (1-based), g = xxhash64 of the space-joined gram (8-byte shuffle key;
    a 2^-64 collision can only ADD a false covered span, never drop one —
    the same one-sided-error argument the MinHash banding oracle notes
    make). Short docs (< k words) yield one truncated gram at pos 1,
    matching dedup._grams_from_words, so every document has at least one
    row."""
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(F.col(text_col)), " ").alias("w"),
    ).select("doc", "w", F.size("w").alias("n_tokens"))
    return tok.select(
        "doc",
        "n_tokens",
        F.posexplode(_grams_from_words(F.col("w"), k)).alias("pos0", "gram"),
    ).select(
        "doc",
        "n_tokens",
        (F.col("pos0") + 1).alias("pos"),
        F.xxhash64("gram").alias("g"),
    )


def _covered_positions(grams: DataFrame, k: int, min_docs: int) -> DataFrame:
    """Distinct (doc, p) token positions covered by a k-gram that occurs
    in >= min_docs distinct documents.

    min_docs == 2 (the default, and the Lee-et-al semantics) flags
    duplicated grams with a window min(doc) != max(doc) over the gram
    key: ONE evaluation of the gram subtree and one Exchange — the
    groupBy + join-back alternative evaluates the (scan -> split -> gram
    -> explode) subtree twice, once per join input (no CSE across join
    sides), which profiling showed dominates. For min_docs > 2 the
    window can't express count_distinct, so the general path aggregates
    and joins back on the same key. Both shapes put a hot boilerplate
    gram into a single task; that skew is inherent to grouping by gram
    (AQE splits the join form's shuffle, and the window form's per-group
    state is two longs)."""
    if min_docs == 2:
        w = Window.partitionBy("g")
        flagged = grams.withColumn(
            "__dup", F.min("doc").over(w) != F.max("doc").over(w)
        ).where(F.col("__dup"))
    else:
        dup = (
            grams.groupBy("g")
            .agg(F.count_distinct("doc").alias("nd"))
            .where(F.col("nd") >= min_docs)
            .select("g")
        )
        flagged = grams.join(dup, "g")
    return flagged.select(
        "doc",
        F.explode(
            F.sequence(
                F.col("pos"),
                F.least(F.col("pos") + (k - 1), F.col("n_tokens")),
            )
        ).alias("p"),
    ).distinct()


def duplicated_span_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span statistics: (id, n_tokens,
    dup_tokens, dup_coverage_bp).

    A token position is "covered" when any k-gram window containing it
    also appears in >= min_docs distinct documents. dup_coverage_bp is
    floor(10000 * dup_tokens / n_tokens) — the integer basis-point form
    every other quality score in this repo uses, so the whole result
    hash-checks against the DuckDB oracle.

    Plan: one evaluation of the positional-gram relation, one Exchange
    on the 8-byte gram hash (_covered_positions), covered positions
    expand via sequence()/explode and dedup on (doc, p). Nothing is
    quadratic; the widest shuffle is one row per corpus token
    occurrence."""
    grams = positional_kgrams(df, text_col, id_col, k)
    covered = (
        _covered_positions(grams, k, min_docs)
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    # Per-doc token totals come from a fresh 2-column scan of the source
    # (cheap: pruned parquet read), NOT from re-aggregating the exploded
    # gram relation — that would shuffle one row per corpus token just to
    # recover a count the source row already knows.
    per_doc = df.select(
        F.col(id_col).alias("doc"),
        F.size(F.split(normalize_text(F.col(text_col)), " ")).alias("n_tokens"),
    )
    return (
        per_doc.join(covered, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("int")
            .alias("dup_tokens"),
            F.expr("(10000 * coalesce(dup_tokens, 0)) div n_tokens")
            .cast("long")
            .alias("dup_coverage_bp"),
        )
    )


def strip_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Rewrite each document with its duplicated spans removed: (id,
    clean_text, n_tokens, kept_tokens). The cleaning transform of the
    Lee-et-al pipeline: tokens covered by a cross-document-duplicated
    k-gram window are dropped, survivors re-join in original order.

    Plan: same coverage pipeline, then an aggregation of DROPPED
    positions per doc (sort_array over a collected int list — bounded by
    document length, never corpus size) and one element-wise rebuild
    against the materialized words array. Documents with no duplicated
    span pass through via the left join + coalesce, untouched."""
    grams = positional_kgrams(df, text_col, id_col, k)
    return _rebuild_without_positions(
        df, _covered_positions(grams, k, min_docs), text_col, id_col
    )


def _rebuild_without_positions(
    df: DataFrame, covered: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Rewrite each document dropping the (doc, p) positions in
    ``covered``: (id, clean_text, n_tokens, kept_tokens). The dropped
    list per doc is bounded by document length, never corpus size."""
    dropped = covered.groupBy("doc").agg(
        F.sort_array(F.collect_list("p")).alias("dropped")
    )
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(F.col(text_col)), " ").alias("w"),
    )
    empty = F.array().cast("array<int>")
    # dropped is corpus-cardinality in the worst case (every doc hit):
    # shuffle-hash, never SMJ (repo-wide join discipline; the r8
    # ExactSubstr strip planned an SMJ here without the hint)
    return (
        tok.join(dropped.hint("shuffle_hash"), "doc", "left")
        .select(
            "doc",
            "w",
            F.coalesce(F.col("dropped"), empty).alias("dropped"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.concat_ws(
                " ",
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size("w")),
                        lambda i: F.when(
                            ~F.array_contains(F.col("dropped"), i),
                            F.element_at(F.col("w"), i),
                        ),
                    ),
                    lambda x: x.isNotNull(),
                ),
            ).alias("clean_text"),
            F.size("w").cast("int").alias("n_tokens"),
            (F.size("w") - F.size("dropped")).cast("int").alias("kept_tokens"),
        )
    )


def substr_seed_grams(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(doc, pos, g) FULL-length positional k-grams — the seed relation
    for ExactSubstr. Unlike :func:`positional_kgrams` this EXCLUDES the
    truncated tail gram a short document emits (a 2-word truncated
    digest must never equal-match a full k-gram's digest by accident of
    text, and a match length derived from a truncated seed would
    overstate the duplicate); documents shorter than k words produce no
    seeds, which is correct — they cannot contain a >= min_len >= k
    match."""
    return (
        positional_kgrams(df, text_col, id_col, k)
        .where(F.col("pos") <= F.col("n_tokens") - k + 1)
        .select("doc", "pos", "g")
    )


def staged_substr_seeds(
    df: DataFrame, text_col: str, id_col: str, k: int, stage_path: str
) -> DataFrame:
    """Stage the ExactSubstr seed relation to the lake (stage-once /
    probe-many, staging.py contract) and return the staged copy — the
    oracle re-derives pairing + run-merge from the SAME parquet, so
    only the gram hashing itself is engine-specific (the simhash
    staging argument)."""
    from redshift_to_pendo_api_data_pipeline_spark.staging import stage

    return stage(df.sparkSession, stage_path,
                 lambda: substr_seed_grams(df, text_col, id_col, k))


def maximal_duplicated_substrings(
    seeds: DataFrame,
    k: int,
    min_len: int = 8,
    max_occurrences: int = 16,
) -> DataFrame:
    """ExactSubstr (Lee et al. 2022 §4.1, the suffix-array dedup tier)
    at word granularity: every LENGTH-MAXIMAL duplicated substring of
    >= ``min_len`` words, reported per occurrence pair as
    (doc_a, doc_b, pos_a, pos_b, len_tokens).

    Fixed-k span COVER (duplicated_span_coverage) answers "how many of
    my tokens sit under some duplicated window" but cannot report true
    match lengths: consecutive covered positions may be covered by
    DIFFERENT partners (run-merging them overstates the duplicate), and
    any shared phrase shorter than its k is invisible (understates).
    This operator reports exact maximal matches instead.

    Relational suffix-grouping, no suffix array needed:

    1. seeds = full-length k-gram starts (doc, pos, g-digest);
    2. occurrence cap: only grams with 2..max_occurrences total
       occurrences pair up — Sum C(occ,2) <= (cap-1)/2 x corpus
       positions bounds the pair relation LINEARLY in corpus size
       (the hot boilerplate grams a cap excludes are span-cover's
       territory; within the cap the report is EXACT, and a hot window
       inside a long match only ever SPLITS the reported run — the
       error is one-sided, never an overstated length);
    3. pair occurrences of the same digest ((doc_a,pos_a) < (doc_b,
       pos_b) canonically — same-doc repeats included, the tandem-
       repeat case cover's min_docs=2 misses entirely);
    4. merge consecutive pos_a runs per (doc_a, doc_b, shift =
       pos_b - pos_a) with the islands trick (pos_a - row_number):
       a run of r consecutive aligned seed matches IS a duplicated
       substring of exactly r-1+k words — every window inside a true
       match seeds at the same shift, so lengths are exact, and the
       run cannot extend by even one word (the extending window would
       have seeded too). The islands window partitions by (doc pair,
       shift) — bounded by document length, the repo per-entity window
       contract.

    Returns matches with len_tokens >= min_len (min_len >= k
    required — shorter matches produce no full seed)."""
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    occ_ok = (
        seeds.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .where((F.col("__occ") >= 2) & (F.col("__occ") <= max_occurrences))
        .select("g")
    )
    s = seeds.join(occ_ok.hint("shuffle_hash"), "g")
    a = s.select("g", F.col("doc").alias("doc_a"), F.col("pos").alias("pos_a"))
    b = s.select("g", F.col("doc").alias("doc_b"), F.col("pos").alias("pos_b"))
    pairs = (
        a.join(b.hint("shuffle_hash"), "g")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            | ((F.col("doc_a") == F.col("doc_b"))
               & (F.col("pos_a") < F.col("pos_b")))
        )
        .select(
            "doc_a", "doc_b", "pos_a", "pos_b",
            (F.col("pos_b") - F.col("pos_a")).alias("shift"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "shift").orderBy("pos_a")
    return (
        pairs.withColumn("__isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "shift", "__isl")
        .agg(
            F.min("pos_a").cast("long").alias("pos_a"),
            F.min("pos_b").cast("long").alias("pos_b"),
            (F.count(F.lit(1)) - 1 + k).cast("long").alias("len_tokens"),
        )
        .where(F.col("len_tokens") >= min_len)
        .select("doc_a", "doc_b", "pos_a", "pos_b", "len_tokens")
    )


def incremental_substr_matches(
    new_seeds: DataFrame,
    corpus_seeds: DataFrame,
    k: int,
    min_len: int = 8,
    max_occurrences: int = 16,
) -> DataFrame:
    """ExactSubstr at INGEST time — the incremental_neardup shape for
    verbatim spans: maximal duplicated substrings between a NEW batch
    and the existing corpus, without ever self-joining the corpus.
    The corpus seed relation is staged once (stage-once / probe-many);
    each arriving batch joins its own (tiny) seed relation against it
    on the gram digest, then the same per-(new doc, corpus doc, shift)
    islands merge as the batch operator. The occurrence cap applies to
    the CORPUS side only (a hot corpus gram would fan every new doc
    out; the new batch is small by definition).

    Returns (doc_new, doc_corpus, pos_new, pos_corpus, len_tokens)
    with len_tokens >= min_len."""
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    occ_ok = (
        corpus_seeds.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .where(F.col("__occ") <= max_occurrences)
        .select("g")
    )
    c = corpus_seeds.join(occ_ok.hint("shuffle_hash"), "g").select(
        "g", F.col("doc").alias("doc_corpus"),
        F.col("pos").alias("pos_corpus"),
    )
    n = new_seeds.select(
        "g", F.col("doc").alias("doc_new"), F.col("pos").alias("pos_new")
    )
    pairs = n.join(c.hint("shuffle_hash"), "g").select(
        "doc_new", "doc_corpus", "pos_new", "pos_corpus",
        (F.col("pos_corpus") - F.col("pos_new")).alias("shift"),
    )
    w = Window.partitionBy("doc_new", "doc_corpus", "shift").orderBy("pos_new")
    return (
        pairs.withColumn("__isl", F.col("pos_new") - F.row_number().over(w))
        .groupBy("doc_new", "doc_corpus", "shift", "__isl")
        .agg(
            F.min("pos_new").cast("long").alias("pos_new"),
            F.min("pos_corpus").cast("long").alias("pos_corpus"),
            (F.count(F.lit(1)) - 1 + k).cast("long").alias("len_tokens"),
        )
        .where(F.col("len_tokens") >= min_len)
        .select("doc_new", "doc_corpus", "pos_new", "pos_corpus",
                "len_tokens")
    )


def substr_dedup_doc_stats(matches: DataFrame) -> DataFrame:
    """Per-document rollup of ExactSubstr matches — each match counts
    for BOTH endpoints: (doc_id, n_matches, max_len_tokens,
    n_partner_docs). The triage report: which documents carry long
    verbatim duplicates, how long, against how many partners."""
    both = matches.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("partner"),
        "len_tokens",
    ).unionByName(
        # same-doc (tandem-repeat) matches already counted by the first
        # leg — don't double-count them
        matches.where(F.col("doc_a") != F.col("doc_b")).select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("partner"),
            "len_tokens",
        )
    )
    return both.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.max("len_tokens").cast("long").alias("max_len_tokens"),
        F.count_distinct("partner").cast("long").alias("n_partner_docs"),
    )


def strip_maximal_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    matches: DataFrame,
) -> DataFrame:
    """ExactSubstr's CLEANING transform (Lee et al. 2022 keep-one
    semantics): for every maximal duplicated match, the LATER
    occurrence — the ``(doc_b, pos_b)`` side of the canonical pair
    ordering, i.e. the higher doc id, or the later position within a
    doc — is excised; the earlier copy survives. Overlapping matches
    union their dropped positions. Documents without matches pass
    through untouched. Output: (id, clean_text, n_tokens,
    kept_tokens), same contract as strip_duplicated_spans."""
    dropped = matches.select(
        F.col("doc_b").alias("doc"),
        F.explode(
            F.sequence(
                F.col("pos_b"),
                F.col("pos_b") + F.col("len_tokens") - 1,
            )
        ).alias("p"),
    ).distinct()
    return _rebuild_without_positions(df, dropped, text_col, id_col)


def strip_contaminated_spans(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Span-level DECONTAMINATION: rewrite each corpus document dropping
    every token position covered by a k-gram that appears anywhere in the
    eval/benchmark set. The surgical form of dedup.benchmark_contamination
    — instead of quarantining whole documents, only the verbatim
    benchmark spans are excised, preserving the rest of the document for
    training.

    Scale: the eval side (thousands of docs) collapses to a distinct
    gram-hash relation that BROADCASTS — the corpus side is one scan +
    explode with a broadcast hash join, no shuffle of corpus grams at
    all; the only corpus shuffles are the (doc, p) dedup and the per-doc
    dropped-list aggregation, both linear."""
    grams = positional_kgrams(corpus, text_col, id_col, k)
    eval_grams = (
        positional_kgrams(eval_set, text_col, id_col, k).select("g").distinct()
    )
    covered = (
        grams.join(F.broadcast(eval_grams), "g")
        .select(
            "doc",
            F.explode(
                F.sequence(
                    F.col("pos"),
                    F.least(F.col("pos") + (k - 1), F.col("n_tokens")),
                )
            ).alias("p"),
        )
        .distinct()
    )
    return _rebuild_without_positions(corpus, covered, text_col, id_col)
