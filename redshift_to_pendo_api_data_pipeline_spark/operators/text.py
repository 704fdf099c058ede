"""Text-analysis operators over the documents table.

All four are pure column expressions (JVM-side, whole-stage codegen) —
exactly mirrorable in ANSI SQL for the DuckDB oracle:

- token counting: whitespace tokens + a BPE-ish subword proxy
- language ID: stopword-overlap argmax heuristic
- quality scoring: length / punctuation / stopword-ratio features
- fingerprinting: digest of the normalized token stream
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import normalize_text

# tiny per-language stopword lists for the n-gram/stopword heuristic;
# deliberately ASCII so the SQL mirror is trivial
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "auf"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "pour", "que"],
}


def words(col: Column) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def subword_count(col: Column) -> Column:
    """BPE-ish proxy: count alternating alpha-runs / digit-runs /
    punctuation marks — the pieces a byte-pair tokenizer would not merge
    across. Pure regexp, identical in DuckDB."""
    return F.size(
        F.regexp_extract_all(F.lower(col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    )


def stopword_hits(col: Column, lang: str) -> Column:
    """Number of distinct stopwords of `lang` present in the text."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(words(col)), sw))


def lang_id(col: Column) -> Column:
    """Argmax of stopword overlap across the candidate languages;
    deterministic tiebreak by language code order; 'und' when nothing
    matches."""
    scored = [(lang, stopword_hits(col, lang)) for lang in sorted(STOPWORDS)]
    best_score = F.greatest(*[s for _, s in scored])
    out = F.lit("und")
    # first language (alphabetical) achieving the max wins; build the
    # when-chain in reverse so earlier langs take precedence
    for lang, score in reversed(scored):
        out = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def boundary_mark(col: Column) -> Column:
    """Normalized text with spaces mapped to '_' and '_' padding at both
    ends — the Cavnar-Trenkle gram-boundary convention. Materialize
    this as its OWN column before gramming: a higher-order-function
    lambda re-evaluates any non-attribute expression it references PER
    ELEMENT, so gramming over the raw expression re-runs the
    normalization regexp once per character (measured: 80 s of CPU at
    sf0.1 vs ~0 for the attribute form)."""
    return F.concat(
        F.lit("_"), F.translate(normalize_text(col), " ", "_"), F.lit("_")
    )


def char_ngrams_from_marked(col: Column, n: int = 3) -> Column:
    """Character n-grams of an ALREADY boundary-marked string column
    (pass an attribute, not an expression — see :func:`boundary_mark`).
    Character-indexed (Spark substring is code-point based), so
    non-space-delimited scripts (CJK) gram correctly. Strings shorter
    than n yield one truncated gram (repo convention)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1))),
        lambda i: F.substring(col, i, n),
    )


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Boundary-marked character n-grams of normalized text — the
    convenience composition of :func:`boundary_mark` +
    :func:`char_ngrams_from_marked` for literals/tests. In operator
    hot paths materialize the marked string first (see
    :func:`boundary_mark`'s per-element re-evaluation warning)."""
    return char_ngrams_from_marked(boundary_mark(col), n)


def charngram_profiles(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    n: int = 3,
    top_k: int = 200,
) -> DataFrame:
    """Cavnar-Trenkle language profiles: per language, the ``top_k``
    most frequent boundary-marked char n-grams with their rank
    (1 = most frequent; ties broken gram-ascending so the profile is a
    deterministic total order). Returns (lang, gram, rk) — a
    langs x top_k BOUNDED relation, the staged artifact an oracle can
    re-derive classification from.

    Scale: one explode of char grams (linear in corpus chars) with the
    pinned-width repartition in front of it (the gopher_repetition
    lesson: AQE sizes the exchange by shuffle bytes and serializes the
    explode amplification behind it), one partial-combined
    groupBy(lang, gram), then a per-lang row_number window whose
    partitions are bounded by the char-n-gram dictionary (~alphabet^n),
    not the corpus."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    grams = (
        df.select(F.col(lang_col).alias("lang"), F.col(text_col).alias("__t"))
        .repartition(nparts)
        .select("lang", boundary_mark(F.col("__t")).alias("__s"))
        .select(
            "lang",
            F.explode(char_ngrams_from_marked(F.col("__s"), n)).alias("gram"),
        )
    )
    counts = grams.groupBy("lang", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= int(top_k))
        .select("lang", "gram", "rk")
    )


def charngram_lang_id(
    df: DataFrame,
    profiles: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    doc_top: int = 20,
    top_k: int = 200,
) -> DataFrame:
    """Classify documents against staged Cavnar-Trenkle profiles with
    the out-of-place measure: rank the doc's own top ``doc_top`` char
    n-grams, and for each candidate language sum |doc rank - profile
    rank| over them, charging ``top_k`` for a gram absent from the
    profile. Prediction = argmin distance (tiebreak lang ascending);
    'und' when NO doc gram appears in any profile. Returns
    (id_col, pred_lang).

    Scale: docs repartition to pinned width by id, and because
    hashpartitioning(id) satisfies every later (id, ...) grouping and
    the per-doc ranking window, the whole classify pass — gram explode,
    doc-rank window, the bounded langs x doc_top fan-out, profile
    lookup, argmin — is ONE stage; profiles and the lang dimension are
    broadcast (langs x top_k bounded)."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    grams = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .repartition(nparts, "__id")
        .select("__id", boundary_mark(F.col("__t")).alias("__s"))
        .select(
            "__id",
            F.explode(char_ngrams_from_marked(F.col("__s"), n)).alias("gram"),
        )
    )
    counts = grams.groupBy("__id", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("__id").orderBy(F.desc("cnt"), F.asc("gram"))
    doc_ranked = (
        counts.withColumn("drk", F.row_number().over(w).cast("long"))
        .where(F.col("drk") <= int(doc_top))
        .select("__id", "gram", "drk")
    )
    langs = profiles.select("lang").distinct()
    scored = (
        doc_ranked.crossJoin(F.broadcast(langs))
        .join(F.broadcast(profiles), ["lang", "gram"], "left")
        .groupBy("__id", "lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("drk") - F.col("rk")),
                    F.lit(int(top_k)).cast("long"),
                )
            ).cast("long").alias("dist"),
            F.count("rk").cast("long").alias("n_hits"),
        )
    )
    best = scored.groupBy("__id").agg(
        F.min(F.struct("dist", "lang")).alias("best"),
        F.max("n_hits").alias("max_hits"),
    )
    return best.select(
        F.col("__id").alias(id_col),
        F.when(F.col("max_hits") > 0, F.col("best.lang"))
        .otherwise(F.lit("und")).alias("pred_lang"),
    )


def quality_score(col: Column) -> Column:
    """[0,1] doc-quality heuristic: longer docs, low punctuation density,
    healthy English-stopword ratio. Feature weights are arbitrary but
    fixed; the point is the feature plumbing."""
    n_tokens = token_count(col).cast("double")
    n_punct = F.size(
        F.regexp_extract_all(col, F.lit(r"[^\w\s]"), 0)
    ).cast("double")
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    punct_ratio = n_punct / F.greatest(F.length(col).cast("double"), F.lit(1.0))
    punct_score = F.greatest(F.lit(1.0) - punct_ratio * 10.0, F.lit(0.0))
    sw_ratio = stopword_hits(col, "en").cast("double") / F.lit(10.0)
    return F.round(
        len_score * 0.4 + punct_score * 0.4 + F.least(sw_ratio, F.lit(1.0)) * 0.2, 6
    )


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the sorted distinct token stream —
    invariant to word order and repetition (the 'rolling hash' use case:
    cheap pre-cluster key for near-dup blocking)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(words(col))), " "))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - dup_word_frac: 1 - |distinct words| / |words| (pure array expr)
    - top_bigram_frac: share of the document's bigrams taken by its most
      frequent bigram (explode -> count -> max/sum; both aggregations
      partial-combine and key on (doc, gram) / doc, so the shuffle rows
      are counts, not text)

    High values of either flag boilerplate/spam for the curation funnel.
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        _grams_from_words,
        normalize_text,
    )

    words_df = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(F.col(text_col)), " ").alias("w"),
    )
    dup = words_df.select(
        "doc",
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("w")) / F.size("w"), 6
        ).alias("dup_word_frac"),
    )
    bigrams = words_df.select(
        "doc", F.explode(_grams_from_words(F.col("w"), 2)).alias("g")
    )
    top = (
        bigrams.groupBy("doc", "g").agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc")
        .agg(F.round(F.max("n") / F.sum("n"), 6).alias("top_bigram_frac"))
    )
    return (
        dup.join(top, "doc")
        .select(F.col("doc").alias(id_col), "dup_word_frac", "top_bigram_frac")
    )


# PII patterns: RE2-safe (no lookaround/backrefs) so the same literals run
# in Spark (Java regex) and the DuckDB oracle, and vectorize JVM-side.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d{1,3}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrub for training corpora: replaces emails / IPv4s / phone
    numbers with <TYPE> placeholders and reports per-doc match counts.
    One codegen stage, zero shuffle — a 100 TB redaction pass is exactly
    one scan + rewrite. Order matters: emails first (an address can
    contain digit runs a phone pattern would mangle)."""
    redacted = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(redacted, F.lit(pat), 0)).alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), *counts, redacted.alias("text_redacted"))


def tf_idf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", top_k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    Classic two-aggregation shape: explode tokens once -> (doc, term, tf)
    via one groupBy -> document frequency via a second groupBy on term ->
    broadcast the (small) term-df relation back -> rank per doc. Both
    aggregations partial-combine map-side; the df relation is vocabulary-
    sized, hence broadcast. idf = ln(N / df) (no smoothing, mirrored
    exactly in the DuckDB oracle); ties broken alphabetically.
    """
    from pyspark.sql import Window

    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import normalize_text

    n_docs = df.count()
    tokens = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    )
    tf = tokens.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_k)
        .select(F.col("doc").alias(id_col), "term", "tfidf", "rn")
    )


def token_rarity_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-relative unigram quality signal in EXACT integer arithmetic:
    per document, the sum / min / max of each token's GLOBAL occurrence
    count. High sum/n ⇒ common-word soup; low min ⇒ contains corpus-rare
    tokens. The integer surfaces make the scores value-checkable
    cross-engine (a log-prob variant would inherit libm's last-ulp drift);
    consumers derive avg = sum/n themselves.

    Two shuffles, both bounded: token-count agg keyed on the token (high
    cardinality, map-side combined — shuffle is |vocab| rows, not corpus
    tokens), then the doc re-agg keyed on doc id. The token→count join
    streams the exploded corpus against the vocab relation; vocabularies
    fit comfortably in a shuffle join at any corpus size (they grow
    ~log(corpus))."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_count"))
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("tok_count").alias("sum_tok_count"),
            F.min("tok_count").alias("min_tok_count"),
            F.max("tok_count").alias("max_tok_count"),
        )
    )


def analyze_documents(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass text-analysis projection: every feature above, computed in
    a single codegen stage over one scan."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(c).alias("n_tokens"),
        subword_count(c).alias("n_subwords"),
        lang_id(c).alias("lang_pred"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("fingerprint"),
    )


def distinctive_terms(
    df: DataFrame,
    text_col: str,
    group_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Per-group distinctive vocabulary (keyness): rank each group's
    tokens by how over-represented they are vs the whole corpus.

    The score is an observed-minus-expected keyness numerator,
    cross-multiplied to stay in exact integer arithmetic:

        keyness = a*N - rowtot*coltot
               (= N^2 * (observed - expected) for cell (group, token))

    where a = token count in the group, rowtot = group token total,
    coltot = corpus token count, N = corpus total. Positive means
    over-represented. This is the chi-squared numerator WITHOUT the
    division by expected count — it ranks by N^2*(obs - exp), so two
    tokens with equal obs-exp but different expected counts tie here
    where chi-squared would not; the trade buys hash-identical exact
    integers across engines.

    Overflow: the products are computed on DECIMAL(19,0) operands →
    DECIMAL(38,0) results (see _keyness_scores), exact for corpora up to
    10^19 tokens; the earlier pure-BIGINT form silently hit ANSI overflow
    errors past ~10^13 corpus tokens (SCALE.md §9.9, closed this round).

    Scale design: ONE token-stream scan + one map-side-combined shuffle
    builds the (group, token) cell relation; the three totals (group,
    token, corpus) are WINDOW sums over that vocabulary-sized relation —
    not joins back to re-derived aggregates, which would re-execute the
    token-stream subtree once per total (the naive join form planned 4
    full scans). The corpus-total window is a single-partition pass over
    the vocabulary only (~1e6 rows at web scale — the same bounded
    single-reducer contract as lm.top_vocab, never the token stream).
    The final row_number window partitions by group."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    cells = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("a"))
    return _keyness_scores(cells, top_k).select(
        F.col("grp").alias(group_col), F.col("tok").alias("term"),
        "keyness", "rank",
    )


def _keyness_scores(cells: DataFrame, top_k: int) -> DataFrame:
    """Score + rank a (grp, tok, a) cell relation by the keyness
    numerator a*N - rowtot*coltot, exact on DECIMAL.

    Each BIGINT count is cast to DECIMAL(19,0) (lossless: 2^63 has 19
    digits) so each product is DECIMAL(38,0) — Spark keeps scale-0
    multiplication exact up to 38 digits, covering corpora to 10^19
    tokens, where BIGINT products overflow past ~3*10^9 * 3*10^9.
    ``keyness`` surfaces as DECIMAL(38,0); callers that need a BIGINT
    (e.g. the oracle-hashed registry query) cast it back, which under
    ANSI either fits or errors loudly — never silently wrong."""
    from pyspark.sql import Window

    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    w_grp = Window.partitionBy("grp")
    w_tok = Window.partitionBy("tok")
    w_all = Window.partitionBy()
    totals = cells.select(
        "grp", "tok", "a",
        F.sum("a").over(w_all).alias("n_total"),
        F.sum("a").over(w_grp).alias("rowtot"),
        F.sum("a").over(w_tok).alias("coltot"),
    )
    scored = totals.select(
        "grp", "tok",
        (d("a") * d("n_total") - d("rowtot") * d("coltot")).alias("keyness"),
    )
    w = Window.partitionBy("grp").orderBy(F.col("keyness").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )


def bpe_merge_pair_counts(
    df: DataFrame, text_col: str, top_k: int = 20
) -> DataFrame:
    """First-iteration BPE tokenizer-induction statistics: corpus-wide
    counts of adjacent character pairs within words, ranked. (A full BPE
    train is this, iterated, with the winning pair merged each round —
    see bpe_train; the pair-count pass is the cost that matters, the
    merge table is vocabulary-sized.)

    Scale design: one scan, explode words then in-word character pairs
    (JVM substring transform, no Python); one map-side-combined groupBy
    on a pair keyspace bounded by charset² — the shuffle carries the
    pair vocabulary, not the token stream. The final top-k window runs
    over that tiny relation."""
    from pyspark.sql import Window

    word = F.explode(words(F.col(text_col))).alias("wd")
    pairs = df.select(word).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("wd") - 1, F.lit(1))),
                lambda i: F.col("wd").substr(i, F.lit(2)),
            )
        ).alias("pair")
    ).where(F.length("pair") == 2)
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("pair", "n", "rank")
    )


def _safe_merge_batch(
    rows: list, cap: int
) -> list[tuple[str, str]]:
    """The longest PREFIX of the ranked pair list that sequential BPE is
    guaranteed to merge in exactly this order, so a whole batch can be
    applied per distributed count pass without changing the merge list.

    A prefix p1..pk (ranked by count desc, then (a, b) asc — the
    sequential tiebreak) is safe when:

    1. the pairs are mutually symbol-disjoint (string equality), so
       merging one neither destroys nor creates instances of another;
    2. no pair's concatenation equals another accepted pair's symbol
       (merging (a,bc) mints new "abc" symbols — if some batch pair
       contains "abc", its count would change mid-batch), and no
       accepted concatenation equals a later pair's symbol;
    3. the prefix is UNSKIPPED: the first conflicting pair ends the
       batch. Every pair outside the prefix therefore ranks > k, which
       bounds all counts that replay could see — any original pair
       outside, and any pair newly created by an accepted merge: a new
       pair's instances embed an original adjacency touching a merged
       pair's symbol, and for two DISTINCT accepted pairs that
       adjacency (b_i, a_j) shares a symbol with an accepted pair, so
       it ranks > k;
    4. a SELF-pair (a == a) may only CLOSE the batch: merging (a,a)
       mints (aa,aa)/(aa,a) offspring whose instances embed the
       accepted pair ITSELF — count ~ half the chains, NOT bounded by
       the boundary rank — and sequential would merge that offspring
       before any later batch member (found by hypothesis:
       'aaaaaabbb' ranks (a,a)=5, (b,b)=2, but after merging (a,a)
       the new (aa,aa)=2 beats (b,b) on the lexicographic tiebreak).
       As the final element it is safe — its offspring exist only
       after the batch's last replay step;
    5. strict count gap at the boundary: accepted pairs whose count
       equals the first non-accepted count are dropped. Within-batch
       ties are fine (their relative (n, a, b) order IS the sequential
       tiebreak and their counts are unchanged during replay); boundary
       ties are not, because an outside pair could tie and win the
       lexicographic tiebreak mid-replay.

    Degenerate case (total tie at the top): the gap rule would empty the
    batch, so fall back to the single top pair — one merge per count
    pass is always exact."""
    accepted: list[tuple[str, str, int]] = []
    syms_used: set[str] = set()
    concats: set[str] = set()
    boundary = 1  # "no further pair" ranks below any count>=2 pair
    closed = False
    for r in rows:
        a, b, n = r["a"], r["b"], r["n"]
        if n < 2 or len(accepted) >= cap or closed:
            boundary = n
            break
        if (
            a in syms_used or b in syms_used
            or a in concats or b in concats
            or (a + b) in syms_used
        ):
            boundary = n
            break
        accepted.append((a, b, n))
        syms_used.update((a, b))
        concats.add(a + b)
        if a == b:  # self-pair: rule 4 — nothing may follow it
            closed = True
    while accepted and accepted[-1][2] == boundary:
        accepted.pop()
    if not accepted and rows and rows[0]["n"] >= 2:
        r = rows[0]
        return [(r["a"], r["b"])]
    return [(a, b) for a, b, _ in accepted]


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    batch_cap: int = 32,
    local_vocab_rows: int = 200_000,
    _stats: dict | None = None,
) -> list[tuple[str, str]]:
    """BPE tokenizer training at corpus scale: repeat (count adjacent
    symbol pairs, merge the winners everywhere) until ``n_merges``
    merges are produced. Returns the ordered merge list — the artifact
    a tokenizer ships.

    THE structural insight every production BPE trainer uses: pair
    counts are a function of the (distinct word, occurrence count)
    table, not the token stream — "the the the" contributes 3×(t,h) via
    one vocabulary row with weight 3. So the 100 TB corpus is touched
    EXACTLY ONCE (one map-side-combined word-count groupBy), and all
    training iterations run over the vocabulary relation, which Zipf
    keeps ~10^6-10^8 rows regardless of corpus bytes:

    - vocabulary fits the driver (``local_vocab_rows``, default 2e5
      rows — same bounded-collect contract as the IVF centroid
      sidecar): finish training in-process, zero Spark jobs per merge;
      256 merges cost one distributed pass + milliseconds-per-merge
      locally. Bit-identical by the weighted-count identity (pinned
      against the pure-Python token-stream reference).
    - larger vocabularies: stay distributed over the weighted word
      relation. Each round counts pairs in one pass (groupBy pair key,
      sum of word weights), collects only the top ``batch_cap + 1``
      rows, and accepts the provably-safe prefix (_safe_merge_batch) —
      the merge list stays BIT-IDENTICAL to the one-pair-per-round
      loop (pinned by test at ``batch_cap=1`` vs default). The rewrite
      applies the whole batch in one vectorized Arrow pandas_udf scan —
      legal because batch pairs are symbol-disjoint, so no position
      matches two pairs. Lineage is cut with localCheckpoint every few
      rounds (the iterative-plan trap k-means/CC also avoid). On
      natural text the safe batch is usually small (top pairs share
      'e','t','r'...), so the word-count reduction — not batching — is
      what makes real merge counts affordable."""
    from pyspark.sql import types as T

    wc = (
        df.select(F.explode(words(F.col(text_col))).alias("wd"))
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    base_sym = wc.select(
        # (?!^)(?=.) = every inter-character position: not the start, and
        # followed by a character (so no trailing empty element)
        F.split(F.col("wd"), "(?!^)(?=.)").alias("syms"),
        "w",
    ).persist()
    try:
        n_vocab = base_sym.count()  # also materializes the one corpus pass
        if _stats is not None:
            _stats["n_vocab"] = n_vocab
        if n_vocab <= local_vocab_rows:
            vocab = [(list(r["syms"]), r["w"]) for r in base_sym.collect()]
            if _stats is not None:
                _stats["mode"] = "local"
                _stats["count_passes"] = 0
            return _bpe_train_local(vocab, n_merges)

        if _stats is not None:
            _stats["mode"] = "distributed"
        sym = base_sym
        merges: list[tuple[str, str]] = []
        round_no = 0
        while len(merges) < n_merges:
            cap = min(batch_cap, n_merges - len(merges))
            pair_counts = (
                sym.select(
                    F.col("w"),
                    F.explode(
                        F.transform(
                            F.slice(
                                F.col("syms"), 1,
                                F.greatest(F.size("syms") - 1, F.lit(0)),
                            ),
                            lambda s, i: F.struct(
                                s.alias("a"),
                                F.element_at(
                                    F.col("syms"), i + F.lit(2)
                                ).alias("b"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("w").alias("n"))
            )
            top = (
                pair_counts.orderBy(F.col("n").desc(), "a", "b")
                .limit(cap + 1)
                .collect()
            )
            if not top or top[0]["n"] < 2:
                break
            batch = _safe_merge_batch(top, cap)
            merges.extend(batch)

            def _make_merge(pair_set: frozenset):
                @F.pandas_udf(T.ArrayType(T.StringType()))
                def _merge(col: pd.Series) -> pd.Series:
                    def one(syms):
                        out, i, size = [], 0, len(syms)
                        while i < size:
                            if i + 1 < size and (syms[i], syms[i + 1]) in pair_set:
                                out.append(syms[i] + syms[i + 1])
                                i += 2
                            else:
                                out.append(syms[i])
                                i += 1
                        return out
                    return col.map(one)
                return _merge

            sym = sym.select(
                _make_merge(frozenset(batch))("syms").alias("syms"), "w"
            )
            round_no += 1
            if round_no % 4 == 0:
                sym = sym.localCheckpoint(eager=False)
        if _stats is not None:
            _stats["count_passes"] = round_no
        return merges[:n_merges]
    finally:
        base_sym.unpersist()


def _bpe_train_local(
    vocab: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[str, str]]:
    """In-process BPE over a (symbol-list, weight) vocabulary — the
    driver-side finish when the distinct-word table is bounded. Same
    argmax ((count desc, pair asc)), same leftmost-greedy merge, same
    <2-count stop as the distributed loop; exact because weighted
    distinct-word pair counts equal token-stream pair counts."""
    from collections import Counter

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for syms, w in vocab:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += w
        if not counts:
            break
        pair, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append(pair)
        a, b = pair
        ab = a + b
        for syms, _w in vocab:
            if a not in syms:
                continue
            out, i, size = [], 0, len(syms)
            while i < size:
                if i + 1 < size and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms[:] = out
    return merges


_VITERBI_INF = 1 << 60


def _unigram_costs(counts: dict[str, int]) -> dict[str, int]:
    """Integer Viterbi costs from integer piece counts:
    cost(p) = round(1e6 * ln(total/count_p)) — the fixed-point negative
    log-probability. Counts are integers everywhere (Viterbi-EM), so
    the cost table is a pure function of them and both training paths
    (driver-local / distributed) derive bit-identical tables."""
    import math

    total = sum(counts.values())
    return {
        p: int(round(1e6 * (math.log(total) - math.log(c))))
        for p, c in counts.items()
        if c > 0
    }


def _viterbi_segment(
    word: str, costs: dict[str, int], max_piece_len: int
) -> list[str]:
    """Min-cost segmentation of ``word`` under the piece cost table.
    DP over end positions; candidate start positions scan ASCENDING
    (longest piece first) and only a STRICT improvement moves the
    argmin, so ties deterministically keep the longest last piece.
    A word containing a character outside the vocabulary falls back to
    its raw character split (the unknown-char convention — never
    crash, never drop text)."""
    n = len(word)
    best = [_VITERBI_INF] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0
    for j in range(1, n + 1):
        for i in range(max(0, j - max_piece_len), j):
            if best[i] >= _VITERBI_INF:
                continue
            c = costs.get(word[i:j])
            if c is None:
                continue
            cand = best[i] + c
            if cand < best[j]:
                best[j] = cand
                back[j] = i
    if best[n] >= _VITERBI_INF:
        return list(word)
    pieces: list[str] = []
    j = n
    while j > 0:
        i = back[j]
        pieces.append(word[i:j])
        j = i
    return pieces[::-1]


def _unigram_em(
    seed_counts: dict[str, int],
    estep,
    vocab_size: int,
    n_em: int,
) -> list[tuple[str, int]]:
    """Engine-generic Viterbi-EM control flow — the SAME function runs
    the driver-local and the distributed training (only ``estep``
    differs), so path parity holds by construction, the way
    bpe_train's weighted-count identity does for BPE.

    Each round: fixed-point costs from integer counts, E-step
    (Viterbi-segment every distinct word, sum piece counts weighted by
    word count — integers end to end, so no float-summation order can
    diverge between paths), then prune to ``vocab_size`` keeping every
    single character alive (chars floor at count 1 — the SentencePiece
    invariant that keeps all text segmentable)."""
    chars = {p for p in seed_counts if len(p) == 1}
    counts = dict(seed_counts)
    for _ in range(n_em):
        costs = _unigram_costs(counts)
        new_counts = estep(costs)
        counts = {p: c for p, c in new_counts.items() if c > 0}
        for ch in chars:
            counts[ch] = max(counts.get(ch, 0), 1)
        if len(counts) > vocab_size:
            multi = sorted(
                ((p, c) for p, c in counts.items() if len(p) > 1),
                key=lambda kv: (-kv[1], kv[0]),
            )
            keep = max(vocab_size - len(chars), 0)
            counts = dict(multi[:keep])
            for ch in chars:
                counts[ch] = max(new_counts.get(ch, 0), 1)
    final_costs = _unigram_costs(counts)
    return sorted(final_costs.items())


def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 300,
    max_piece_len: int = 6,
    n_em: int = 3,
    seed_multiplier: int = 8,
    local_vocab_rows: int = 200_000,
    _stats: dict | None = None,
) -> list[tuple[str, int]]:
    """Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
    unigram model — the OTHER production tokenizer family beside BPE),
    Viterbi-EM flavor: seed with the highest-count substrings, then
    alternate (segment every word under current piece costs, re-count
    pieces, prune) until ``n_em`` rounds, keeping single characters
    alive throughout. Returns the sorted (piece, cost_fp) table —
    cost_fp = round(1e6 * -ln p), the artifact the segmenter ships.

    Same structural insight and the same driver-bounded/distributed
    split as :func:`bpe_train` (reference has no tokenizer at all —
    widened LLM-pipeline surface): every statistic is a function of
    the (distinct word, count) dictionary, not the token stream, so
    the corpus is scanned once; the dictionary either fits the driver
    (train in-process, zero jobs per round) or stays distributed, with
    the E-step as one Arrow pandas-UDF segmentation pass over the
    dictionary + one map-side-combined piece-count groupBy per round
    (shuffle = piece vocabulary, not words). Both paths run the SAME
    `_unigram_em` control flow over integer counts, so they produce
    bit-identical piece tables (pinned by test).

    Viterbi-EM (hard EM) rather than full forward-backward EM is a
    deliberate determinism trade documented here: expected counts
    under the full posterior are floats whose distributed summation
    order varies; Viterbi counts are integers. The result is the
    standard hard-EM variant of the unigram model."""
    from pyspark.sql import types as T

    wc = (
        df.select(F.explode(words(F.col(text_col))).alias("wd"))
        .where(F.col("wd") != "")
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("w"))
    ).persist()
    try:
        n_vocab = wc.count()
        if _stats is not None:
            _stats["n_vocab"] = n_vocab
        seed_size = vocab_size * seed_multiplier

        if n_vocab <= local_vocab_rows:
            if _stats is not None:
                _stats["mode"] = "local"
            vocab = [(r["wd"], int(r["w"])) for r in wc.collect()]
            seed: dict[str, int] = {}
            for wd, w in vocab:
                for i in range(len(wd)):
                    for ln in range(1, min(max_piece_len, len(wd) - i) + 1):
                        p = wd[i:i + ln]
                        seed[p] = seed.get(p, 0) + w
            chars = {p: c for p, c in seed.items() if len(p) == 1}
            multi = sorted(
                ((p, c) for p, c in seed.items() if len(p) > 1),
                key=lambda kv: (-kv[1], kv[0]),
            )[:seed_size]
            seed_counts = dict(multi) | chars

            def estep(costs: dict[str, int]) -> dict[str, int]:
                out: dict[str, int] = {}
                for wd, w in vocab:
                    for p in _viterbi_segment(wd, costs, max_piece_len):
                        out[p] = out.get(p, 0) + w
                return out

            return _unigram_em(seed_counts, estep, vocab_size, n_em)

        if _stats is not None:
            _stats["mode"] = "distributed"
        # seed substring counts: JVM expression over the dictionary
        # (each word emits O(len x max_piece_len) substrings — still
        # dictionary-bounded), one groupBy, driver keeps only the
        # seed-sized top + the charset (both bounded sidecars)
        subs = wc.select(
            "w",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("wd")),
                        lambda i: F.transform(
                            F.sequence(
                                F.lit(1),
                                F.least(
                                    F.lit(max_piece_len),
                                    F.length("wd") - i + 1,
                                ),
                            ),
                            lambda ln: F.col("wd").substr(i, ln),
                        ),
                    )
                )
            ).alias("p"),
        ).groupBy("p").agg(F.sum("w").alias("c"))
        chars_rows = subs.where(F.length("p") == 1).collect()
        multi_rows = (
            subs.where(F.length("p") > 1)
            .orderBy(F.col("c").desc(), F.col("p").asc())
            .limit(seed_size)
            .collect()
        )
        seed_counts = {r["p"]: int(r["c"]) for r in multi_rows}
        seed_counts |= {r["p"]: int(r["c"]) for r in chars_rows}

        def estep(costs: dict[str, int]) -> dict[str, int]:
            @F.pandas_udf(T.ArrayType(T.StringType()))
            def _seg(col: pd.Series) -> pd.Series:
                return col.map(
                    lambda wd: _viterbi_segment(wd, costs, max_piece_len)
                )

            rows = (
                wc.select(F.explode(_seg("wd")).alias("p"), "w")
                .groupBy("p")
                .agg(F.sum("w").alias("c"))
                .collect()
            )
            return {r["p"]: int(r["c"]) for r in rows}

        return _unigram_em(seed_counts, estep, vocab_size, n_em)
    finally:
        wc.unpersist()


def unigram_segment_words(
    df: DataFrame, text_col: str, pieces: list[tuple[str, int]],
    max_piece_len: int = 6,
) -> DataFrame:
    """Segment the corpus's DISTINCT-word dictionary under a trained
    unigram piece table: (word, token, k) — token appears k times in
    word's min-cost segmentation. The same dictionary-sized Arrow pass
    and output contract as bpe_segment_words, so bpe_encode_counts
    histograms either tokenizer's corpus tokens unchanged."""
    from pyspark.sql import types as T

    costs = dict(pieces)
    max_len = max_piece_len

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _seg(col: pd.Series) -> pd.Series:
        return col.map(lambda wd: _viterbi_segment(wd, costs, max_len))

    wd = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    return (
        wd.select("word", F.explode(_seg("word")).alias("token"))
        .groupBy("word", "token")
        .agg(F.count(F.lit(1)).alias("k"))
    )


def unigram_doc_cross_entropy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    mapping: DataFrame,
    pieces: DataFrame,
) -> DataFrame:
    """Per-document unigram-LM cross-entropy — the CCNet-style
    perplexity quality filter (Wenzek et al. 2020): score every doc by
    the mean -log p of its subword tokens under the trained unigram
    model; boilerplate and in-domain text scores LOW (predictable),
    gibberish and OOD text scores HIGH. The LM-based quality signal
    the hashed-BoW classifier family doesn't cover.

    ``mapping`` is the staged (word, token, k) segmentation and
    ``pieces`` the staged (piece, cost_fp) table (cost_fp =
    round(1e6 * -ln p), from unigram_train) — both vocabulary-sized,
    both broadcast. Corpus side: one word explode + two broadcast
    joins + one doc-keyed groupBy. All integer: per-doc
    xent_fp = sum(k * cost_fp) div sum(k), exact cross-engine.
    Words whose segmentation fell back to out-of-vocabulary chars
    (no cost row) are EXCLUDED from both numerator and denominator —
    the filter scores the model's domain, and the exclusion is
    identical in the oracle."""
    per_word = (
        mapping.join(
            pieces.withColumnRenamed("piece", "token"), "token"
        )
        .groupBy("word")
        .agg(
            F.sum("k").cast("long").alias("__toks"),
            F.sum(F.col("k") * F.col("cost_fp")).cast("long")
            .alias("__cost"),
        )
    )
    corpus = df.select(
        F.col(id_col).alias("doc"),
        F.explode(words(F.col(text_col))).alias("word"),
    ).where(F.col("word") != "")
    return (
        corpus.join(F.broadcast(per_word), "word")
        .groupBy("doc")
        .agg(
            F.sum("__toks").cast("long").alias("n_tokens"),
            F.sum("__cost").cast("long").alias("__total_cost"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.expr("__total_cost div n_tokens").cast("long")
            .alias("xent_fp"),
        )
    )


def pii_rate(
    df: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-group PII exposure report — the go/no-go audit a curation
    pipeline runs BEFORE deciding whether a source needs the redaction
    pass (redact_pii) at all: per group, document count, documents
    containing any PII, and total match counts per pattern family.
    Same PII_PATTERNS as the scrubber, so the report predicts exactly
    what redaction would touch. One codegen scan + one
    map-side-combined groupBy on the (low-cardinality) group key —
    no shuffle of text, no UDF."""
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).alias(
            f"__{name}"
        )
        for name, pat in PII_PATTERNS.items()
    ]
    per_doc = df.select(F.col(group_col).alias("grp"), *counts)
    any_pii = sum(F.col(f"__{n}") for n in PII_PATTERNS) > 0
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(any_pii.cast("long")).alias("docs_with_pii"),
            *[
                F.sum(f"__{name}").cast("long").alias(f"n_{name}")
                for name in PII_PATTERNS
            ],
        )
        .select(
            F.col("grp").alias(group_col), "n_docs", "docs_with_pii",
            *[f"n_{name}" for name in PII_PATTERNS],
        )
    )


def length_histogram(
    df: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-group document-length histogram on power-of-two buckets:
    (group, len_bucket = bit_length(n_tokens), n_docs, total_tokens).
    The length-distribution profile read before choosing sequence-
    packing and truncation parameters — a source whose mass sits in
    short buckets packs differently from long-form text. Bit-length
    buckets keep the surface exact-integer (the repo's cross-engine
    hash discipline; log2 floats would be libm-dependent). One scan,
    one map-side-combined groupBy on (group, bucket) — bounded by
    |groups| * 64 output rows."""
    n_tok = token_count(F.col(text_col))
    bucket = F.when(n_tok <= 0, F.lit(0)).otherwise(
        F.length(F.conv(n_tok, 10, 2))
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            n_tok.alias("__n"),
            bucket.cast("int").alias("len_bucket"),
        )
        .groupBy("grp", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
        )
        .select(
            F.col("grp").alias(group_col), "len_bucket", "n_docs",
            "total_tokens",
        )
    )


def bpe_segment_words(df: DataFrame, text_col: str, merges) -> DataFrame:
    """Apply a trained BPE merge list to the corpus vocabulary: returns
    the (word, token, k) mapping — each distinct word segmented into its
    subword tokens under the learned vocab, with per-word multiplicity k
    (a word can emit the same token twice).

    THE same distinct-word reduction bpe_train rides: segmentation runs
    once per DISTINCT word (one Arrow-batched pandas UDF over the
    dictionary — dictionary-sized work, never token-stream-sized, and
    the ONLY Python in the family), and the corpus applies the mapping
    by broadcast join (bpe_encode_counts). The merge loop mirrors
    _bpe_train_local's application exactly — merges in rank order,
    leftmost-greedy — so segmenting the training corpus reproduces the
    trainer's final symbol state."""
    merge_list = [tuple(m) for m in merges]

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _segment(ws: pd.Series) -> pd.Series:
        def seg(word):
            syms = list(word)
            for a, b in merge_list:
                if a not in syms:
                    continue
                out, i, size = [], 0, len(syms)
                while i < size:
                    if i + 1 < size and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        return pd.Series([seg(w) for w in ws])

    dict_words = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    return (
        dict_words.select("word", F.explode(_segment(F.col("word"))).alias("token"))
        .groupBy("word", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )


def bpe_encode_counts(
    df: DataFrame, text_col: str, mapping: DataFrame, top_k: int = 50
) -> DataFrame:
    """Corpus-wide subword frequencies under a trained BPE tokenizer:
    explode corpus words (JVM), broadcast-join the staged (word, token,
    k) mapping, weight by k, top-k tokens. The mapping is
    vocabulary-sized (broadcastable by Zipf), the corpus side is one
    linear scan + one map-side-combined groupBy on the subword key —
    the real-tokenizer token histogram every mixture/budget decision
    wants instead of the whitespace proxy."""
    corpus_words = df.select(
        F.explode(words(F.col(text_col))).alias("word")
    ).where(F.col("word") != "")
    return (
        corpus_words.join(F.broadcast(mapping), "word")
        .groupBy("token")
        .agg(F.sum("k").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(top_k)
    )


# fixed audit alphabet for char_entropy_profile: lowercase letters,
# digits, space. Everything else aggregates into one OTHER bucket.
ENTROPY_ALPHABET = tuple("abcdefghijklmnopqrstuvwxyz0123456789 ")


def char_entropy_profile(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Character-distribution quality signal per document — the cheap
    gibberish/boilerplate screen (binary junk scores near-uniform ->
    high diversity; 'aaaa...' spam scores near-zero): character counts
    over a FIXED 37-symbol alphabet (lowercased letters, digits,
    space; the remainder folds into an OTHER bucket), plus an
    integer-exact entropy surrogate.

    No explode, no shuffle: each symbol's count is
    ``length(s) - length(replace(s, c, ''))`` — 37 whole-stage-codegen
    expressions per row, evaluated at the scan. At 100 TB this is the
    difference between a per-character explode (corpus x avg-length
    rows through a shuffle) and a pure map.

    The entropy surrogate replaces the libm log with the repo's
    integer bit-length idiom (see lm.bigram_surprisal):

        ent_bits_x_n = sum_c n_c * bitlen(n // n_c)    (n_c > 0)

    where bitlen(x) = length(bin(x)) = floor(log2 x)+1. This is
    n * (a staircase of) H(X) in bits — monotone in the true entropy,
    exactly reproducible in any engine with integer div + bin(). Also
    emitted: distinct_symbols (of the 37), top_symbol_count (the
    mode's count — near n means degenerate text).
    """
    s = F.lower(F.col(text_col))
    n = F.length(s)
    # literal (non-regex) replace: the alphabet needs no escaping and
    # the engine-native string scan beats a regex engine pass.
    counts = [(c, n - F.length(F.replace(s, F.lit(c), F.lit("")))) for c in ENTROPY_ALPHABET]
    named = [cnt.alias(f"__c_{i}") for i, (c, cnt) in enumerate(counts)]
    base = df.select(
        F.col(id_col).alias("doc"), n.alias("__n"), *named
    )
    cc = [F.col(f"__c_{i}") for i in range(len(ENTROPY_ALPHABET))]
    other = F.col("__n") - sum(cc[1:], cc[0])
    all_counts = cc + [other.alias("__c_other")]
    terms = [
        F.when(
            c > 0,
            c * F.length(F.bin((F.col("__n") / c).cast("long"))),
        ).otherwise(F.lit(0))
        for c in (cc + [other])
    ]
    ent = sum(terms[1:], terms[0])
    distinct_symbols = sum(
        [(c > 0).cast("int") for c in cc][1:], (cc[0] > 0).cast("int")
    )
    top = F.greatest(*(cc + [other]))
    return base.select(
        "doc",
        F.col("__n").cast("long").alias("n_chars"),
        ent.cast("long").alias("ent_bits_x_n"),
        distinct_symbols.cast("int").alias("distinct_symbols"),
        top.cast("long").alias("top_symbol_count"),
    ).where(F.col("n_chars") > 0)


def readability_scores(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Flesch-style readability in INTEGER arithmetic — the classic
    reading-ease screen reformulated so it hash-checks cross-engine
    (the float Flesch constant stack is libm/ordering-fragile; the
    milli-unit floor-division form is exact):

        flesch_milli = 206835
                       - 1015  * n_words        div n_sentences
                       - 84600 * n_vowel_groups div n_words

    with RE2-safe counting rules shared verbatim by both engines:
    words = matches of [a-z]+ on lower(text); sentences = matches of
    [.!?]+ (runs count once; floor 1); vowel groups = matches of
    [aeiouy]+ (the standard syllable proxy). Zero-word docs are
    excluded (no readability without words).

    Shape: three regexp_count expressions per row at the scan — no
    explode, no shuffle, whole-stage codegen."""
    s = F.lower(F.col(text_col))
    n_words = F.regexp_count(s, F.lit("[a-z]+"))
    n_sents = F.greatest(F.lit(1), F.regexp_count(s, F.lit("[.!?]+")))
    n_vg = F.regexp_count(s, F.lit("[aeiouy]+"))
    return (
        df.select(
            F.col(id_col).alias("doc"),
            n_words.cast("long").alias("n_words"),
            n_sents.cast("long").alias("n_sentences"),
            n_vg.cast("long").alias("n_vowel_groups"),
        )
        .where(F.col("n_words") > 0)
        .withColumn(
            "flesch_milli",
            F.expr(
                "206835L - 1015L * n_words div n_sentences"
                " - 84600L * n_vowel_groups div n_words"
            ).cast("long"),
        )
    )


def token_drift_tv(
    df: DataFrame,
    text_col: str,
    side_col,
    top_k: int = 20,
) -> DataFrame:
    """Token-distribution drift between two corpus slices (crawl
    versions, time halves, sources) as TOTAL-VARIATION distance — the
    integer-exact drift metric (PSI/KL need logs; TV = half the L1
    between the distributions loses the libm dependence and keeps the
    per-token attribution interpretable): per token,

        contrib_ppm = |p_a - p_b| in ppm   (floor-div per side)

    with TV_total = sum(contrib)/2 read off downstream. Emits the
    ``top_k`` drifting tokens by contribution (ties alphabetical) plus
    each side's count — the "what changed in this crawl" report.

    ``side_col`` is a boolean Column: True rows form side A. Shape: one
    token explode (linear in corpus tokens, the same cost as any
    tokenization pass), one (token) groupBy counting BOTH sides in one
    conditional-sum pass (the dsir_scores trick — never two scans), a
    single-row totals aggregate broadcast back, and a top-k. No joins
    on the token stream."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    toks = df.select(
        side_col.cast("int").alias("a"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("t"),
    ).where(F.col("t") != "")
    per_tok = toks.groupBy("t").agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum(F.lit(1) - F.col("a")).cast("long").alias("n_b"),
    )
    totals = per_tok.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    return (
        per_tok.crossJoin(F.broadcast(totals))
        .select(
            F.col("t").alias("token"),
            "n_a",
            "n_b",
            # DECIMAL(38,0): n_a/n_b are corpus token counts (~2e13
            # at 100 TB) — x1e6 is past BIGINT
            F.abs(
                F.expr("CAST(n_a AS DECIMAL(38,0)) * 1000000 div __ta")
                - F.expr("CAST(n_b AS DECIMAL(38,0)) * 1000000 div __tb")
            ).cast("long").alias("contrib_ppm"),
        )
        .orderBy(F.desc("contrib_ppm"), F.asc("token"))
        .limit(top_k)
    )


def ngram_novelty(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction (ppm) of a document's
    distinct word n-grams that occur in NO other document — the inverse
    of the boilerplate signal (templated/syndicated text scores near 0,
    original prose near 1e6). The corpus-level quality lens that
    per-doc repetition stats can't see.

    Shape: the distinct (doc, gram) relation (linear in corpus grams,
    same cost class as any shingling pass), per-gram doc counts in one
    gram-key groupBy (counts, never text, cross the second exchange —
    grams collapse to their counts before rejoining), and a shuffle_hash
    join back on the gram key with AQE skew-split available (the DSIR
    big-big join discipline). Everything integer."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        _grams_from_words,
        normalize_text,
    )

    words_df = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(F.col(text_col)), " ").alias("w"),
    )
    grams = words_df.select(
        "doc", F.explode(_grams_from_words(F.col("w"), n)).alias("g")
    ).distinct()
    per_gram = grams.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("doc_count")
    )
    joined = grams.join(per_gram.hint("shuffle_hash"), "g")
    return (
        joined.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("doc_count") == 1).cast("long")).cast("long")
            .alias("n_unique"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_grams",
            "n_unique",
            F.expr("n_unique * 1000000L div n_grams").cast("long")
            .alias("novelty_ppm"),
        )
    )


def vocab_growth(
    df: DataFrame,
    text_col: str,
    id_col: str,
    cutoffs_pct: list[int] | None = None,
) -> DataFrame:
    """Heaps-law vocabulary-growth curve — the 'will my vocabulary fit'
    scaling diagnostic every tokenizer/embedding-table decision needs
    BEFORE committing to a corpus 100x this size: distinct-token count
    and token-occurrence count at corpus prefixes (deterministic doc-id
    order), e.g. 25/50/75/100%.

    THE scale trick is the min-first-appearance inversion: instead of
    re-scanning the corpus per cutoff (the naive curve), each token
    maps once to the RANK OF ITS FIRST DOC (one explode + one token
    groupBy), and every cutoff's vocabulary is then a conditional count
    over the vocabulary-sized relation — cutoff count grows the
    conditional-sum width, never the number of corpus passes. Doc ranks
    come from ``global_ranks`` (range-partitioned, no single-reducer
    window). Occurrence counts ride a per-doc count relation the same
    way.

    Output: (pct, cutoff_docs, n_occurrences, vocab_size) per cutoff."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_ranks,
    )

    cuts = sorted(cutoffs_pct or [25, 50, 75, 100])
    if not cuts or cuts[0] < 1 or cuts[-1] > 100:
        raise ValueError(f"cutoffs_pct must be within 1..100, got {cuts}")
    n = df.count()
    ranked = global_ranks(
        df.select(F.col(id_col), F.col(text_col)), [id_col],
        rank_name="__rn",
    )
    toks = ranked.select(
        "__rn",
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("t"),
    ).where(F.col("t") != "")
    first_seen = toks.groupBy("t").agg(F.min("__rn").alias("__m"))
    doc_counts = toks.groupBy("__rn").agg(
        F.count(F.lit(1)).cast("long").alias("__tc")
    )
    rows = None
    for pct in cuts:
        cr = n * pct // 100
        vocab = first_seen.agg(
            F.sum(F.when(F.col("__m") <= cr, 1).otherwise(0))
            .cast("long").alias("vocab_size")
        )
        occ = doc_counts.agg(
            F.coalesce(
                F.sum(F.when(F.col("__rn") <= cr, F.col("__tc"))), F.lit(0)
            ).cast("long").alias("n_occurrences")
        )
        row = (
            occ.crossJoin(vocab)  # 1x1
            .select(
                F.lit(pct).cast("long").alias("pct"),
                F.lit(cr).cast("long").alias("cutoff_docs"),
                "n_occurrences", "vocab_size",
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def zipf_token_ranks(
    df: DataFrame, text_col: str, top_k: int = 50
) -> DataFrame:
    """Zipf rank–frequency head of the corpus: top-k tokens by
    frequency (count desc, token asc — deterministic), each with its
    rank and the rank·frequency product (Zipf's law says the product is
    roughly constant; a head whose product decays steeply flags
    boilerplate dominance, a known dedup smell). One explode + one
    token-key groupBy + TakeOrderedAndProject(top_k) — the rank window
    runs over the k-row result, bounded by contract."""
    from pyspark.sql import Window

    counts = (
        df.select(
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("t")
        )
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("t"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("t"))
    return counts.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(
        "rank", F.col("t").alias("token"), "freq",
        (F.col("rank") * F.col("freq")).cast("long").alias("rank_freq"),
    )


def compression_stats_staged(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression size — the classic repetition /
    boilerplate quality signal (Gopher's 'highly compressible document'
    screen, Rae et al. 2021 §A1.1): near-duplicate boilerplate and
    keyword-stuffed spam compress far below natural prose. Compression
    runs in ONE Arrow-batched pass (a declared Python edge — a DEFLATE
    codec is not expressible in JVM column algebra) and the (doc,
    n_raw, n_comp) relation is STAGED to the lake, so every downstream
    screen is a pure-JVM scan of the staged parquet, the codec cost is
    paid once per corpus version, and an independent engine can audit
    the screen arithmetic from the staged artifact (the WavCodec
    contract: the codec itself is pinned by roundtrip/monotonicity
    unit tests).

    n_raw/n_comp are UTF-8 byte counts at a FIXED zlib level — the
    ratio is a pure function of (text, level) for a given zlib, and
    the staged relation freezes it."""
    import zlib

    lvl = int(level)

    def _compress(batches):
        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf[text_col].astype(str)]
            yield pd.DataFrame({
                "doc": pdf[id_col],
                "n_raw": [len(b) for b in raw],
                "n_comp": [len(zlib.compress(b, lvl)) for b in raw],
            })

    from redshift_to_pendo_api_data_pipeline_spark.staging import stage

    return stage(
        df.sparkSession, path,
        lambda: df.select(F.col(id_col), F.col(text_col)).mapInPandas(
            _compress, schema="doc long, n_raw long, n_comp long"
        ),
    )


def compression_quality(
    stats: DataFrame,
    docs: DataFrame,
    id_col: str,
    group_col: str,
    repetitive_below_ppm: int = 400_000,
) -> DataFrame:
    """Per-group compression-quality report over a staged
    compression-stats relation: document counts, exact byte totals,
    the group's aggregate compression ratio in ppm (sum-over-sum — an
    exact integer, not a mean of per-doc floats), and how many
    documents fall under the 'repetitive' threshold. One join + one
    groupBy; empty documents (n_raw = 0) are counted but excluded from
    ratio arithmetic (guard, not a crash)."""
    j = stats.join(
        docs.select(F.col(id_col).alias("doc"), F.col(group_col)),
        "doc",
    ).withColumn(
        "__r",
        F.when(F.col("n_raw") == 0, F.lit(None)).otherwise(
            F.expr("n_comp * 1000000L div n_raw")
        ),
    )
    return j.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_raw").cast("long").alias("raw_bytes"),
        F.sum("n_comp").cast("long").alias("comp_bytes"),
        # a group of only-empty docs has no ratio: NULL, not an ANSI
        # div-by-zero crash
        # DECIMAL(38,0): group byte totals x1e6 pass BIGINT at scale
        F.expr(
            "CASE WHEN sum(n_raw) = 0 THEN NULL"
            " ELSE CAST(sum(n_comp) AS DECIMAL(38,0)) * 1000000"
            " div sum(n_raw) END"
        ).cast("long").alias("mean_ratio_ppm"),
        F.sum(
            F.when(F.col("__r") < repetitive_below_ppm, 1).otherwise(0)
        ).cast("long").alias("n_repetitive"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Okapi BM25 ranking of every document against a FIXED query term
    set — the retrieval scorer behind search-based data curation
    (select-by-query, topicality filters), one step past tf-idf: term
    frequency saturates at k1 and long documents are penalized toward
    the corpus mean length by b.

    Exact-integer surface: each per-term partial score is rounded to
    micro-units FIRST (idf and the saturation fraction are the only
    float steps, identical libm on both engines), then summed as
    BIGINT — the cross-term sum is order-independent, so the value
    hash survives Spark's nondeterministic partial-agg order.

    Shuffle shape: one token explode -> per-doc length agg (doc key),
    the query-term tf agg reuses the same relation filtered to the
    (constant-size) query vocabulary, df per term is a query-sized
    relation, and the corpus scalars (N, total length) are a 1-row
    broadcast. Final top-k compiles to TakeOrderedAndProject — no
    global window, no full sort.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    dl = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    scalars = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("total_len"),
    )
    qset = [t.lower() for t in query_terms]
    tf = (
        toks.where(F.col("term").isin(qset))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # scalars and the query-sized df relation broadcast by construction
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "__sat",
            (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col("total_len")
                )
            ),
        )
        .withColumn(
            "__part_micro",
            F.round(F.col("__idf") * F.col("__sat") * F.lit(1e6), 0).cast("long"),
        )
    )
    return (
        scored.groupBy("doc")
        .agg(F.sum("__part_micro").cast("long").alias("bm25_micro"))
        .select(F.col("doc").alias(id_col), "bm25_micro")
        .orderBy(F.desc("bm25_micro"), F.asc(id_col))
        .limit(top_k)
    )


RAKE_STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on", "for")


def rake_keywords(
    df: DataFrame, text_col: str, id_col: str,
    stopwords: tuple = RAKE_STOPWORDS, top_k: int = 20,
    max_words: int = 4, scale: int = 10**6,
) -> DataFrame:
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010):
    candidate phrases are maximal stopword-free token runs; each word
    scores deg(w)/freq(w) where deg(w) = sum of phrase lengths over
    the word's occurrences (its co-occurrence degree including
    itself); a phrase scores the sum of its words' scores. Fixed
    point: score(w)_fp = scale*deg div freq, summed per phrase —
    exact integers, deterministic ties by phrase text.

    Phrase segmentation is done on the TOKEN relation, not with regex
    gymnastics: tokens get positions (posexplode), stop tokens become
    run delimiters, and the phrase id is the running stop count — a
    per-doc window (bounded by that doc's token count, the repo-wide
    per-entity window contract). Consecutive stopwords and
    leading/trailing stopwords fall out naturally, where a
    replace-then-split regex mangles overlapping matches.

    Returns the corpus top-``top_k``:
    (phrase, n_words, n_occurrences, score_fp).
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("__pos", "__w"),
    ).where(F.col("__w") != "")
    marked = toks.withColumn(
        "__is_stop", F.array_contains(stop_arr, F.col("__w")).cast("int")
    )
    w_run = (
        Window.partitionBy("__doc")
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = marked.withColumn(
        "__phrase_id", F.sum("__is_stop").over(w_run)
    ).where(F.col("__is_stop") == 0)
    phrases = (
        runs.groupBy("__doc", "__phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__pos", "__w"))),
                    lambda s: s["__w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
        .where(F.col("n_words") <= int(max_words))
    )
    occ_words = phrases.select(
        "phrase", "n_words",
        F.explode(F.split(F.col("phrase"), " ")).alias("__w"),
    )
    word_stats = occ_words.groupBy("__w").agg(
        F.count(F.lit(1)).cast("long").alias("__freq"),
        F.sum("n_words").cast("long").alias("__deg"),
    ).select(
        "__w",
        F.expr(
            f"CAST(CAST(__deg AS DECIMAL(38,0)) * {int(scale)}"
            " AS DECIMAL(38,0)) div __freq"
        ).cast("long").alias("__wscore"),
    )
    phrase_scores = (
        occ_words.join(word_stats.hint("shuffle_hash"), "__w")
        .groupBy("phrase", "n_words")
        .agg(F.sum("__wscore").cast("long").alias("__tot"))
    )
    # __tot sums over every occurrence of every word: per-occurrence
    # phrase score is __tot / n_occurrences; recover occurrence count
    # from the phrase relation and divide exactly.
    occ_counts = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    return (
        phrase_scores.join(occ_counts.hint("shuffle_hash"), "phrase")
        .select(
            "phrase", "n_words", "n_occurrences",
            F.expr("CAST(__tot div n_occurrences AS BIGINT)")
            .alias("score_fp"),
        )
        .orderBy(F.desc("score_fp"), F.asc("phrase"))
        .limit(int(top_k))
    )


def gopher_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Full Gopher repetition-rule signal set per document (Rae et al.
    2021, "Scaling Language Models: ... Gopher", Table A1) — the
    boilerplate/spam detectors a pretraining curation funnel runs before
    anything model-based. Extends :func:`repetition_stats` (which covers
    only dup-word and top-bigram share) to the published char-fraction
    family:

    - ``top{2,3,4}_char_ppm``: characters covered by the single most
      frequent n-gram, ``count * char_len(gram)`` over total normalized
      chars, in ppm. "Most frequent" ties broken toward the longer gram
      (max by (count, char_len) — gram identity never shuffles, only
      its md5 digest and length).
    - ``dup{5..10}_char_ppm``: characters covered by ALL n-grams that
      occur more than once, ``sum(count * char_len)`` over total chars.
      Overlapping occurrences are counted per occurrence (the standard
      published approximation), so values can exceed 1e6 on degenerate
      spam — documented, deterministic, identical in the SQL mirror.
    - ``passes_repetition``: Gopher Table A1 thresholds
      (top2<20%, top3<18%, top4<16%; dup5<15% .. dup10<10%).

    Scale shape: each WORD is md5-hashed ONCE (never a gram string —
    the r8 form materialized and md5-hashed full gram strings for all
    9 sizes, a 9x string-allocation constant the r8 verdict flagged);
    gram identity is a pair of rolling polynomial hashes of the word
    hashes (31-bit Mersenne-prime moduli, combined into one 62-bit
    long — per-(doc,n)-group collision odds ~k^2/2^62, far below
    certification noise). Words posexplode to (doc, pos, two word
    hashes, word len) longs; ONE doc-partitioned window of lead(1..9)
    feeds a chained rolling combine — k_n = (k_{n-1}*B + lead_{n-1})
    mod p — so every gram key for all 9 sizes falls out of pure
    whole-stage-codegen long arithmetic (no higher-order-function
    lambdas: an earlier fold-over-slice draft interpreted ~9x corpus
    lambda calls and ran 2x SLOWER than the string form). Gram char
    length rides the same chain (c_n = c_{n-1} + 1 + lead(wlen)).
    Then one explode of 9 (n, key, char_len) structs per word; both
    aggregations partial-combine (count on (doc,n,key), then
    max-struct/sum on (doc,n)), and the final per-doc pivot is a
    conditional-agg over at most 9 rows per doc. All fractions are
    exact integer ppm (BIGINT ``div``), per the repo cross-engine
    hashing rule. The DuckDB oracle keeps grouping by the gram STRING
    — same counts by construction, so the hash identity is
    cross-checked every certification run.

    Short-doc convention: a doc with fewer than n words yields one
    truncated gram (repo-wide ``_grams_from_words`` semantics) —
    here: the rolling key over all available words, emitted at pos 1
    only (the coalesce over k_10..k_1 picks k_{n_words}).
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    TOP_NS = (2, 3, 4)
    DUP_NS = (5, 6, 7, 8, 9, 10)
    NS = (*TOP_NS, *DUP_NS)
    N_MAX = max(NS)
    # Gopher Table A1 thresholds in ppm
    TOP_MAX = {2: 200000, 3: 180000, 4: 160000}
    DUP_MAX = {5: 150000, 6: 140000, 7: 130000, 8: 120000,
               9: 110000, 10: 100000}
    P1, P2 = 2147483647, 2147483629          # 31-bit primes
    B1, B2 = 1000003, 999983                 # rolling-hash bases

    # Pin the doc partitioning WIDTH up front: everything downstream of
    # this exchange (per-word md5, the lead window, the 9x gram explode,
    # and — since hashpartitioning(doc) satisfies every later (doc, ...)
    # grouping — ALL the aggregations) runs in this one stage. Left to
    # AQE, the exchange coalesces by shuffle BYTES (small: one row per
    # word) and the 9x compute amplification behind it serializes onto
    # 1-2 tasks (measured 10 s of CPU on 2 of 32 cores at sf0.1). An
    # explicit width is exactly what a 1000-executor deployment would
    # pin for a compute-amplifying stage.
    nparts = df.sparkSession.sparkContext.defaultParallelism
    norm = normalize_text(F.col("__text"))
    docs0 = df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__text")
    ).repartition(nparts, "doc")
    words = docs0.select(
        "doc",
        F.length(norm).cast("long").alias("tot_chars"),
        F.size(F.split(norm, " ")).cast("long").alias("n_words"),
        F.posexplode(F.split(norm, " ")).alias("pos", "__w"),
    ).select(
        "doc", "tot_chars", "n_words", "pos",
        (F.conv(F.substring(F.md5("__w"), 1, 8), 16, 10)
         .cast("long") % P1).alias("wh1"),
        (F.conv(F.substring(F.md5("__w"), 9, 8), 16, 10)
         .cast("long") % P2).alias("wh2"),
        F.length("__w").cast("long").alias("wlen"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    led = words.select(
        "doc", "tot_chars", "n_words", "pos", "wh1", "wh2", "wlen",
        *[F.lead("wh1", j).over(w).alias(f"a{j}") for j in range(1, N_MAX)],
        *[F.lead("wh2", j).over(w).alias(f"b{j}") for j in range(1, N_MAX)],
        *[F.lead("wlen", j).over(w).alias(f"l{j}") for j in range(1, N_MAX)],
    )
    # The gram key for size n expands DIRECTLY over the lead
    # attributes: k_n = (sum_j lead_j * B^(n-1-j)) mod p, with the
    # B-powers folded in as literals and a mod after each product
    # (term < 2^62, partial sum < 2^35 — no overflow). Direct
    # expansion over attributes keeps every expression tree small and
    # duplication-free: a chained k_n = f(k_{n-1}) form either inlines
    # the whole chain per gram size (64 KB codegen overflow ->
    # interpreted eval) or needs a stack of materialized wide
    # projections whose janino compile time (~5 s, paid per build)
    # dwarfs the actual compute. Nulls are exact: any lead past the
    # doc tail null-propagates through its gram's sum.
    def _poly(n: int, first: str, leads: str, base: int, prime: int):
        pw = {j: pow(base, j, prime) for j in range(n)}
        s = (F.col(first) * pw[n - 1]) % prime
        for j in range(1, n):
            s = s + (F.col(f"{leads}{j}") * pw[n - 1 - j]) % prime
        return s % prime

    def _gk(n: int):
        return (
            _poly(n, "wh1", "a", B1, P1) * F.lit(1 << 31).cast("long")
            + _poly(n, "wh2", "b", B2, P2)
        )

    def _glen(n: int):
        s = F.col("wlen") + F.lit(n - 1).cast("long")
        for j in range(1, n):
            s = s + F.col(f"l{j}")
        return s

    keyed = led.select(
        "doc", "tot_chars", "n_words", "pos",
        *[_gk(n).alias(f"g_{n}") for n in range(1, N_MAX + 1)],
        *[_glen(n).alias(f"c_{n}") for n in range(1, N_MAX + 1)],
    )
    # truncated full-doc gram (docs shorter than n words, pos 1 only):
    # the deepest non-null key IS the all-words rolling key
    tk = F.coalesce(*[F.col(f"g_{n}") for n in range(N_MAX, 0, -1)])
    tc = F.coalesce(*[F.col(f"c_{n}") for n in range(N_MAX, 0, -1)])
    short = (F.col("pos") == 0) & (F.col("n_words") < F.lit(N_MAX + 1))

    def _entry(n: int):
        gk = F.when(F.col(f"c_{n}").isNotNull(), F.col(f"g_{n}")).when(
            short & (F.col("n_words") < n), tk
        )
        glen = F.when(F.col(f"c_{n}").isNotNull(), F.col(f"c_{n}")).when(
            short & (F.col("n_words") < n), tc
        )
        return F.struct(
            F.lit(n).alias("n"), gk.alias("gk"), glen.alias("glen")
        )

    grams = keyed.select(
        "doc", "tot_chars",
        F.explode(F.array(*[_entry(n) for n in NS])).alias("e"),
    ).select("doc", "tot_chars", "e.n", "e.gk", "e.glen").where(
        F.col("gk").isNotNull()
    )
    counted = grams.groupBy("doc", "n", "gk").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.first("glen").alias("glen"),
        F.first("tot_chars").alias("tot_chars"),
    )
    # top gram by (cnt, glen), found via an ORDER-ISOMORPHIC DECIMAL
    # encode cnt*(tot_chars+1)+glen instead of max(struct(cnt, glen)):
    # a struct-typed max buffer is not hash-aggregatable, so the old
    # form planned Sort + SortAggregate — a full per-partition sort of
    # the ~9x-corpus gram-count relation (the r11 profile's biggest
    # stage in this query). glen <= tot_chars for every gram (a gram's
    # reconstructed span never exceeds the normalized doc), so the
    # encode preserves the (cnt, glen) lexicographic order exactly;
    # DECIMAL(38,0) keeps it exact to 1e19-char documents, and the
    # decode (div / mod by tot_chars+1) returns the same BIGINTs the
    # struct field reads produced.
    scale_ = (F.col("tot_chars") + F.lit(1)).cast("decimal(38,0)")
    enc = (
        F.col("cnt").cast("decimal(38,0)") * scale_
        + F.col("glen").cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    per_n = counted.groupBy("doc", "n").agg(
        F.max(enc).alias("top_enc"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt") * F.col("glen"))
              .otherwise(F.lit(0))).cast("long").alias("dup_chars"),
        F.first("tot_chars").alias("tot_chars"),
    ).select(
        "doc", "n",
        F.expr(
            "CAST(1000000"
            " * CAST(top_enc div CAST(tot_chars + 1 AS DECIMAL(38,0))"
            "        AS BIGINT)"
            " * CAST(top_enc % CAST(tot_chars + 1 AS DECIMAL(38,0))"
            "        AS BIGINT)"
            " AS BIGINT) div greatest(tot_chars, 1)"
        ).alias("top_ppm"),
        F.expr("CAST(1000000 * dup_chars AS BIGINT)"
               " div greatest(tot_chars, 1)").alias("dup_ppm"),
    )
    agg_cols = []
    for n in TOP_NS:
        agg_cols.append(
            F.max(F.when(F.col("n") == n, F.col("top_ppm")))
            .cast("long").alias(f"top{n}_char_ppm")
        )
    for n in DUP_NS:
        agg_cols.append(
            F.max(F.when(F.col("n") == n, F.col("dup_ppm")))
            .cast("long").alias(f"dup{n}_char_ppm")
        )
    out = per_n.groupBy("doc").agg(*agg_cols)
    passes = F.lit(True)
    for n in TOP_NS:
        passes = passes & (F.col(f"top{n}_char_ppm") < TOP_MAX[n])
    for n in DUP_NS:
        passes = passes & (F.col(f"dup{n}_char_ppm") < DUP_MAX[n])
    return out.select(
        F.col("doc").alias(id_col),
        *[f"top{n}_char_ppm" for n in TOP_NS],
        *[f"dup{n}_char_ppm" for n in DUP_NS],
        passes.cast("int").alias("passes_repetition"),
    )


# Gopher quality-rule stopword list (Rae et al. 2021 Table A1: "contains
# at least 2 of ..."); distinct from the lang-ID STOPWORDS on purpose.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_x100: int = 300,
    max_mean_word_x100: int = 1000,
    max_symbol_word_ppm: int = 100_000,
    min_alpha_word_ppm: int = 800_000,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher quality-filter rule set per document (Rae et al. 2021
    Table A1), each rule surfaced as its own flag so the funnel can
    report WHICH rule dropped a doc (the all-or-nothing keep flag alone
    makes threshold tuning blind):

    - word count within [min_words, max_words]
    - mean word length within [3, 10] chars (fixed-point x100)
    - symbol-to-word ratio (``#`` or ``...``) <= 10%
    - >= 80% of words contain at least one alphabetic char (Gopher uses
      90%; the default here is 80% — parameterized either way)
    - >= 2 hits from the published stopword list

    Pure column algebra end to end (one projection, zero shuffles,
    whole-stage codegen); every ratio is exact integer ppm / x100
    fixed-point per the cross-engine hashing rule.
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    w = F.split(normalize_text(F.col(text_col)), " ")
    doc = df.select(
        F.col(id_col).alias(id_col),
        w.alias("w"),
        F.col(text_col).alias("__raw"),
    ).select(
        id_col,
        F.size("w").cast("long").alias("n_words"),
        # mean word chars x100: sum of word lengths over count, exact
        F.expr(
            "CAST(100 * aggregate(w, 0L, (a, x) -> a + length(x)) AS BIGINT)"
            " div greatest(size(w), 1)"
        ).alias("mean_word_chars_x100"),
        (F.size(F.regexp_extract_all(F.col("__raw"), F.lit(r"#|\.\.\."), 0))
         .cast("long")).alias("n_symbols"),
        F.size(F.filter("w", lambda x: x.rlike("[a-z]")))
        .cast("long").alias("n_alpha_words"),
        F.size(F.array_intersect(
            F.array_distinct("w"),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )).cast("long").alias("stopword_hits"),
    )
    out = doc.select(
        id_col, "n_words", "mean_word_chars_x100", "stopword_hits",
        F.expr("CAST(1000000 * n_symbols AS BIGINT)"
               " div greatest(n_words, 1)").alias("symbol_word_ppm"),
        F.expr("CAST(1000000 * n_alpha_words AS BIGINT)"
               " div greatest(n_words, 1)").alias("alpha_word_ppm"),
    )
    rules = {
        "r_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "r_mean_word_len": (F.col("mean_word_chars_x100") >= min_mean_word_x100)
        & (F.col("mean_word_chars_x100") <= max_mean_word_x100),
        "r_symbol_ratio": F.col("symbol_word_ppm") <= max_symbol_word_ppm,
        "r_alpha_words": F.col("alpha_word_ppm") >= min_alpha_word_ppm,
        "r_stopwords": F.col("stopword_hits") >= min_stopword_hits,
    }
    keep = F.lit(True)
    for c in rules.values():
        keep = keep & c
    return out.select(
        id_col, "n_words", "mean_word_chars_x100", "symbol_word_ppm",
        "alpha_word_ppm", "stopword_hits",
        *[v.cast("int").alias(k) for k, v in rules.items()],
        keep.cast("int").alias("keep"),
    )


def wordpiece_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    local_vocab_rows: int = 200_000,
    _stats: dict | None = None,
) -> list[str]:
    """WordPiece tokenizer training (Schuster & Nakajima 2012; the
    BERT/HuggingFace trainer): the third production tokenizer family
    beside :func:`bpe_train` (frequency-greedy) and
    :func:`unigram_train` (likelihood EM). Identical merge LOOP to BPE
    but a likelihood-gain SCORE — each round merges the adjacent pair
    maximizing ``count(ab) / (count(a) * count(b))``, i.e. the pair
    whose fusion most increases corpus likelihood under a unigram piece
    model. Returns the learned VOCAB (initial symbols + merged pieces,
    creation order) — WordPiece segmentation is vocab-driven greedy
    longest-match, not merge-replay, so the vocab is the shipped
    artifact.

    Continuation pieces carry the BERT ``##`` prefix: a word splits
    into ``[w0, ##w1, ##w2, ...]``; merging ``(a, ##b)`` yields
    ``a+b`` with ``a``'s prefix preserved.

    Scale shape: same distinct-word reduction as bpe_train — pair and
    symbol counts are functions of the (distinct word, count)
    dictionary, so the corpus is scanned ONCE (map-side-combined word
    count) regardless of corpus bytes, and training runs over the
    dictionary. The dictionary must fit the driver's documented bound
    (``local_vocab_rows``, the bpe_train bounded-collect contract); a
    larger vocabulary raises rather than silently collecting — the
    distributed extension is the bpe_train skeleton with the argmax
    replaced by the exact cross-multiplied score comparison, noted
    here and deliberately not duplicated until a fixture needs it.

    Determinism: scores are compared by exact integer
    cross-multiplication (``n1*na2*nb2`` vs ``n2*na1*nb1``), never
    floats; ties break toward the lexicographically smaller pair. Stop
    early when the best pair's count < 2 (a pair seen once cannot help
    compression).
    """
    from collections import Counter

    wc = (
        df.select(F.explode(words(F.col(text_col))).alias("wd"))
        .where(F.col("wd") != "")
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    n_vocab = wc.count()
    if _stats is not None:
        _stats["n_vocab"] = n_vocab
    if n_vocab > local_vocab_rows:
        raise ValueError(
            f"wordpiece_train dictionary ({n_vocab} rows) exceeds the "
            f"driver bound ({local_vocab_rows}); raise the bound or use "
            "the distributed bpe_train skeleton with the WordPiece score"
        )
    vocab_rows: list[tuple[list[str], int]] = []
    for r in wc.collect():
        wd = r["wd"]
        syms = [wd[0]] + ["##" + c for c in wd[1:]]
        vocab_rows.append((syms, r["w"]))

    init_syms = sorted({s for syms, _ in vocab_rows for s in syms})
    pieces: list[str] = list(init_syms)
    for _ in range(n_merges):
        sym_n: Counter = Counter()
        pair_n: Counter = Counter()
        for syms, w in vocab_rows:
            for s in syms:
                sym_n[s] += w
            for i in range(len(syms) - 1):
                pair_n[(syms[i], syms[i + 1])] += w
        best = None  # (pair, n, na, nb)
        for pair, n in pair_n.items():
            if n < 2:
                continue
            na, nb = sym_n[pair[0]], sym_n[pair[1]]
            if best is None:
                best = (pair, n, na, nb)
                continue
            bp, bn, bna, bnb = best
            lhs = n * bna * bnb
            rhs = bn * na * nb
            if lhs > rhs or (lhs == rhs and pair < bp):
                best = (pair, n, na, nb)
        if best is None:
            break
        (a, b), _, _, _ = best
        ab = a + (b[2:] if b.startswith("##") else b)
        pieces.append(ab)
        for syms, _w in vocab_rows:
            if a not in syms:
                continue
            out, i, size = [], 0, len(syms)
            while i < size:
                if i + 1 < size and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms[:] = out
    return pieces


def wordpiece_segment_greedy(word: str, vocab: set[str]) -> list[str]:
    """Reference greedy longest-match-first WordPiece segmentation
    (BERT's WordpieceTokenizer): longest vocab prefix, then longest
    ``##``-continuation, ``[UNK]`` when stuck. Pure function — shared
    by the pandas UDF and the pinned pure-Python test."""
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        end, cur = n, None
        while end > i:
            piece = word[i:end]
            if i > 0:
                piece = "##" + piece
            if piece in vocab:
                cur = piece
                break
            end -= 1
        if cur is None:
            return ["[UNK]"]
        out.append(cur)
        i = end
    return out


def wordpiece_segment_words(
    df: DataFrame, text_col: str, vocab: list[str]
) -> DataFrame:
    """Apply a trained WordPiece vocab to the corpus vocabulary:
    (word, token, k) mapping via greedy longest-match — one
    Arrow-batched pandas UDF over the DISTINCT-word dictionary (the
    bpe_segment_words shape: dictionary-sized Python, corpus applies
    the mapping by broadcast join in bpe_encode_counts)."""
    vset = set(vocab)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _segment(ws: pd.Series) -> pd.Series:
        return pd.Series([wordpiece_segment_greedy(w, vset) for w in ws])

    dict_words = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    return (
        dict_words.select(
            "word", F.explode(_segment(F.col("word"))).alias("token")
        )
        .groupBy("word", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
