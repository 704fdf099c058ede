"""Corpus-curation funnel: staged filters with per-stage survivor counts.

The standard shape of a training-data pipeline is a funnel — length
filter, language filter, dedup, decontamination — and the artifact every
run must produce is the per-stage attrition report (how many documents
each stage removed). This operator composes arbitrary stage functions and
reports the funnel in one DataFrame.

Scale note: each stage count is an independent aggregation over the
progressively-filtered plan; Catalyst collapses the shared filter prefix
into each branch's scan, so a funnel of S stages is S parallel scans with
pushed-down predicate chains — embarrassingly parallel, no shuffle except
what a stage itself needs (e.g. the dedup window). At 100 TB, cache the
deepest stage if the survivors feed the next job.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, functions as F


def quality_funnel(
    df: DataFrame,
    stages: Sequence[tuple[str, Callable[[DataFrame], DataFrame]]],
) -> DataFrame:
    """Apply `stages` (name, transform) in order; return one row per
    stage: (stage_idx, stage, n_docs) with n_docs = survivors AFTER that
    stage. Stage 0 row reports the input size."""
    rows = [
        df.agg(
            F.lit(0).alias("stage_idx"),
            F.lit("input").alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    ]
    cur = df
    for i, (name, fn) in enumerate(stages, start=1):
        cur = fn(cur)
        rows.append(
            cur.agg(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).alias("n_docs"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def min_length_stage(n_chars_col: str, min_chars: int):
    def fn(df: DataFrame) -> DataFrame:
        return df.where(F.col(n_chars_col) >= min_chars)
    return fn


def lang_allowlist_stage(lang_col: str, langs: Sequence[str]):
    def fn(df: DataFrame) -> DataFrame:
        return df.where(F.col(lang_col).isin(list(langs)))
    return fn


def exact_dedup_stage(text_col: str, id_col: str):
    """Keep the smallest id per normalized-content digest (window form, so
    the stage passes full rows through instead of collapsing columns)."""
    from pyspark.sql import Window

    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import normalize_text

    def fn(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(F.md5(normalize_text(F.col(text_col))))
        return (
            df.withColumn("__keep", F.col(id_col) == F.min(id_col).over(w))
            .where("__keep")
            .drop("__keep")
        )
    return fn


def neardup_stage(text_col: str, id_col: str, stage_dir: str, threshold: float = 0.8):
    """Remove near-duplicates via staged MinHash-LSH verified pairs: any
    document that pairs with a lower-id document drops (the lower id
    survives). Pair-based removal — a chain A~B~C keeps A and drops B, C
    whenever B/C pair directly with a lower id; for exact component-wise
    dedup use ``dedup.connected_components`` + ``cluster_representatives``
    (heavier: a union-find or star-contraction pass). Signatures stage
    under ``stage_dir`` and are reusable by later runs
    (stage-once/probe-many)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        minhash_dedup_pairs_staged,
    )

    def fn(df: DataFrame) -> DataFrame:
        pairs = minhash_dedup_pairs_staged(
            df, text_col, id_col,
            stage_path=f"{stage_dir}/minhash_sigs.parquet",
            threshold=threshold,
        )
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        # shuffle_hash, NOT broadcast: near-dup losers are commonly
        # 30-50% of a web corpus — an unbounded, corpus-cardinality id
        # set. A shuffled hash anti-join is the strategy that survives
        # that at 100 TB (and stays off SortMergeJoin in the plan);
        # broadcasting it is a driver/executor OOM by construction.
        return df.join(losers.hint("shuffle_hash"), id_col, "left_anti")
    return fn


def containment_stage(
    text_col: str,
    id_col: str,
    block_col: str,
    stage_dir: str,
    threshold: float = 0.8,
):
    """Drop CONTAINED documents (round 7): for every containment pair
    (dedup.containment_pairs — the asymmetric subset/quote detector),
    the document with the SHORTER text drops and the container survives
    (ties break to the higher id so the outcome is deterministic).
    Complements neardup_stage: symmetric near-dups drop the higher id of
    a similar pair; containment drops the quote inside the page. Shares
    the SSJoin index staging dir with any word-Jaccard consumer."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    def fn(df: DataFrame) -> DataFrame:
        pairs = containment_pairs(
            df, text_col, id_col, block_col, threshold,
            stage_path=f"{stage_dir}/ssjoin_words.parquet",
        )
        sizes = df.select(
            F.col(id_col).alias("__id"), F.length(text_col).alias("__len")
        )
        sized = (
            pairs.join(sizes.withColumnRenamed("__id", "id_a")
                       .withColumnRenamed("__len", "len_a")
                       .hint("shuffle_hash"), "id_a")
            .join(sizes.withColumnRenamed("__id", "id_b")
                  .withColumnRenamed("__len", "len_b")
                  .hint("shuffle_hash"), "id_b")
        )
        losers = sized.select(
            F.when(
                (F.col("len_a") < F.col("len_b"))
                | ((F.col("len_a") == F.col("len_b"))
                   & (F.col("id_a") > F.col("id_b"))),
                F.col("id_a"),
            ).otherwise(F.col("id_b")).alias(id_col)
        ).distinct()
        # corpus-cardinality id set: shuffled anti-join, never broadcast
        return df.join(losers.hint("shuffle_hash"), id_col, "left_anti")
    return fn


def decontamination_stage(eval_set: DataFrame, text_col: str, id_col: str, n: int):
    """Anti-join against benchmark-overlapping ids."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        benchmark_contamination,
    )

    def fn(df: DataFrame) -> DataFrame:
        hits = benchmark_contamination(df, eval_set, text_col, id_col, n=n)
        # hits are USUALLY small (eval-set overlaps) but unbounded in
        # principle — no forced broadcast; the hint keeps the anti-join
        # a shuffled hash join at any cardinality.
        return df.join(
            hits.select(id_col).hint("shuffle_hash"), id_col, "left_anti"
        )
    return fn


def strip_spans_stage(text_col: str, id_col: str, k: int = 5, min_docs: int = 2):
    """REWRITE stage (row-preserving, unlike the drop stages): replace
    each document's text with its duplicated-spans-stripped form
    (spans.strip_duplicated_spans — the Lee-et-al surgical dedup that
    keeps the document, excising only cross-document-repeated k-gram
    windows), then drop documents left empty. Place it after exact/near
    dedup and before decontamination: whole-document duplicates are
    cheaper to kill outright, and contamination checks should see the
    final text."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.spans import (
        strip_duplicated_spans,
    )

    def fn(df: DataFrame) -> DataFrame:
        cleaned = strip_duplicated_spans(df, text_col, id_col, k=k,
                                         min_docs=min_docs)
        out = (
            df.drop(text_col)
            .join(cleaned.select(F.col(id_col),
                                 F.col("clean_text").alias(text_col)), id_col)
            .where(F.length(text_col) > 0)
        )
        return out
    return fn


def classifier_filter_stage(
    weights_fp: DataFrame,
    text_col: str,
    id_col: str,
    min_logit_fp: int,
    dim: int = 2**15,
):
    """Learned-quality funnel stage (the GPT-3/CCNet move): keep
    documents whose integer logit under a TRAINED fixed-point weight
    table (operators/classifier.py) clears ``min_logit_fp``. The stage
    re-derives hashed features for the docs flowing through it and
    scores them with one broadcast join + per-doc sum — rows pass
    through intact (left_semi against the survivor ids), so the stage
    composes with the rest of the funnel like any other filter. The
    threshold is an integer logit on purpose: exact, engine-portable,
    and monotone in the probability."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        hashed_features,
        score_logreg_fp,
    )

    def fn(df: DataFrame) -> DataFrame:
        feats = hashed_features(df, text_col, id_col, dim=dim)
        # Score from the full doc universe so a feature-less document
        # (empty text / all-OOV tokens) gets a bias-only logit and is
        # judged by the threshold like any other doc, instead of being
        # dropped by the inner-join scoring path regardless of how
        # permissive min_logit_fp is.
        keep = (
            score_logreg_fp(
                feats, weights_fp,
                docs=df.select(F.col(id_col).alias("doc")),
            )
            .where(F.col("logit_fp") >= min_logit_fp)
            .select(F.col("doc").alias(id_col))
        )
        # shuffle_hash, NOT broadcast: the keep set is the SURVIVORS — a
        # quality filter keeps the majority of the corpus, so this id set
        # is O(corpus) by construction and must never broadcast.
        return df.join(keep.hint("shuffle_hash"), id_col, "left_semi")
    return fn


def quality_funnel_flags(
    df: DataFrame,
    stages: Sequence[tuple[str, "F.Column"]],
) -> DataFrame:
    """One-scan attrition report for funnels whose stages are row-level
    flag COLUMNS (length/lang/PII predicates, a precomputed dedup-keep
    window flag, a classifier-logit threshold): survival chains as
    s_k = s_{k-1} AND flag_k and every stage count folds into ONE
    aggregation — S stages cost one scan instead of quality_funnel's S
    parallel scans (its documented shape). Identical to the sequential
    form whenever each stage is a pure row predicate; a stage whose flag
    itself depends on the surviving POPULATION (e.g. min-id-per-digest
    dedup recomputed after earlier filters) is population-sensitive and
    belongs in the sequential form — that caveat is the entire trade."""
    flagged = df
    surv_cols = []
    surv = F.lit(True)
    for i, (_name, flag) in enumerate(stages, start=1):
        flagged = flagged.withColumn(f"__f{i}", flag)
        surv = surv & F.col(f"__f{i}")
        surv_cols.append(F.sum(surv.cast("long")).alias(f"__n{i}"))
    agg = flagged.agg(F.count(F.lit(1)).alias("__n0"), *surv_cols)
    return agg.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("stage_idx"), F.lit("input").alias("stage"),
                         F.col("__n0").alias("n_docs")),
                *[
                    F.struct(F.lit(i).alias("stage_idx"),
                             F.lit(name).alias("stage"),
                             F.col(f"__n{i}").alias("n_docs"))
                    for i, (name, _f) in enumerate(stages, start=1)
                ],
            )
        ).alias("r")
    ).select("r.*")


# ---------------------------------------------------------------------------
# C4 line-level curation (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning...", SS2.2) — the rules C4 applies BELOW document
# granularity: per-line gates, whole-document poison tokens, and exact
# line dedup across the corpus. No reference analogue (DB->API scope);
# extension work in the Gopher-rules tier.
# ---------------------------------------------------------------------------

C4_DOC_POISON = ("lorem ipsum", "{")
C4_LINE_POISON = ("javascript",)


def c4_line_filters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    line_sep: str = "\n",
    min_line_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4's published line/document rules in one pass:

    - a LINE survives iff it ends in terminal punctuation (. ! ? "),
      has at least ``min_line_words`` whitespace words, and contains no
      line-poison token (C4 dropped any line with 'javascript');
    - a DOCUMENT survives iff it contains no doc-poison token
      ('lorem ipsum' boilerplate, '{' = code) and keeps at least
      ``min_lines`` surviving lines.

    Returns (id, text rebuilt from surviving lines joined by
    ``line_sep``, n_lines_in, n_lines_kept). Pure array/string column
    algebra — split once, one F.filter over the materialized lines
    array (every per-line predicate references only the lambda
    variable, so nothing re-evaluates per element), zero shuffles,
    zero UDFs: at 100 TB this is a narrow scan."""
    lw = F.lower(F.col(text_col))
    doc_poisoned = None
    for tok in C4_DOC_POISON:
        c = lw.contains(tok)
        doc_poisoned = c if doc_poisoned is None else (doc_poisoned | c)

    def _line_ok(line):
        ok = line.rlike(r'[.!?"]\s*$')
        ok = ok & (F.size(F.split(F.trim(line), r"\s+")) >= min_line_words)
        for tok in C4_LINE_POISON:
            ok = ok & ~F.lower(line).contains(tok)
        return ok

    base = df.select(
        F.col(id_col),
        F.split(F.col(text_col), line_sep).alias("__lines"),
        doc_poisoned.alias("__poisoned"),
    ).select(
        F.col(id_col),
        F.size("__lines").cast("long").alias("n_lines_in"),
        F.filter("__lines", _line_ok).alias("__kept"),
        "__poisoned",
    )
    return (
        base.where(
            (~F.col("__poisoned")) & (F.size("__kept") >= int(min_lines))
        )
        .select(
            F.col(id_col),
            F.array_join("__kept", line_sep).alias(text_col),
            "n_lines_in",
            F.size("__kept").cast("long").alias("n_lines_kept"),
        )
    )


def corpus_line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    line_sep: str = "\n",
) -> DataFrame:
    """C4's corpus-level exact LINE dedup: every duplicated line keeps
    exactly ONE occurrence corpus-wide — the earliest by
    (document id, line position) — and every other occurrence is
    excised from its document; documents that lose all lines drop.
    EMPTY / whitespace-only lines are exempt: they are paragraph
    separators, not content, and pass through unconditionally —
    deduping them corpus-wide would silently collapse the paragraph
    structure of every document but the corpus-first one.
    Returns (id, text rebuilt in original line order, n_lines_kept).

    Scale shape: posexplode lines once; the winner per line digest
    comes from a partial-combining groupBy(digest).agg(min(struct(doc,
    pos))) — never a corpus-wide window sort — and instances survive
    via a digest-keyed join against that winner relation (both sides
    hash-partition on the 16-byte digest; the join carries line text
    exactly once). Rebuild is one groupBy(doc) of (pos, line) structs
    sorted per doc. Skew contract: a pathological line duplicated
    across the whole corpus lands in one digest partition as a COUNT
    (the agg partial-combines map-side); only the join fan-back is
    bounded by surviving instances, which is 1 per digest by
    construction."""
    lines = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias(
            "__pos", "__line"
        ),
    ).withColumn("__d", F.md5("__line"))
    blank = F.trim(F.col("__line")) == ""
    nonblank = lines.where(~blank)
    winners = nonblank.groupBy("__d").agg(
        F.min(F.struct("__doc", "__pos")).alias("__w")
    )
    kept_nonblank = (
        nonblank.join(winners.hint("shuffle_hash"), "__d")
        .where(
            (F.col("__doc") == F.col("__w.__doc"))
            & (F.col("__pos") == F.col("__w.__pos"))
        )
        .select("__doc", "__pos", "__line")
    )
    # blank lines never enter the digest shuffle at all — they rejoin
    # the survivors by position at rebuild time
    kept = kept_nonblank.unionByName(
        lines.where(blank).select("__doc", "__pos", "__line")
    )
    return (
        kept.groupBy("__doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
                line_sep,
            ).alias(text_col),
            F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
        )
        .select(F.col("__doc").alias(id_col), text_col, "n_lines_kept")
    )
