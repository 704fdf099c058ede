"""Deterministic sampling and data-mixing operators for training-data
curation.

Not in the reference (it replicates 1:1); part of the widened LLM-pipeline
surface (BASELINE.json north star). Everything here is HASH-based, never
RNG-based: a sample defined as `md5(salt || id) < threshold` is

- reproducible across runs, engines and cluster sizes (no seed plumbing,
  no partition-order sensitivity — Spark's df.sample() changes membership
  when partitioning changes);
- consistent under re-partitioning and incremental arrival: a row's
  membership depends only on its key, so late data lands in the same
  split;
- cheap at 100 TB: one md5 + string compare per row, pushed into the
  scan's filter (no shuffle, no state).

The hex-prefix comparison is deliberately string-lexicographic: Spark and
DuckDB both emit lowercase-hex md5, so the same predicate runs verbatim in
the correctness oracle (tools/check_oracle.py) — sampling stays
value-hash-checkable cross-engine, which RNG sampling never is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# 4 hex chars = 16 bits of the digest: granularity 1/65536 ≈ 0.0015%,
# plenty for mixing ratios while keeping the threshold a short literal.
_PREFIX_LEN = 4
_SPACE = 1 << (4 * _PREFIX_LEN)


def rate_to_hex_threshold(rate: float) -> str:
    """Map a sampling rate in [0,1] to the hex-prefix threshold string.
    P(md5_prefix < threshold) == floor(rate*65536)/65536."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    if rate >= 1.0:
        return "g"  # 'g' > 'f': lexicographically above every hex prefix
    return format(int(rate * _SPACE), f"0{_PREFIX_LEN}x")


def hash_bucket(key_col: Column, salt: str = "") -> Column:
    """Lowercase-hex md5 prefix of (salt || key) — the uniform [0, ffff]
    bucket a row deterministically falls into."""
    return F.substring(F.md5(F.concat(F.lit(salt), key_col.cast("string"))),
                       1, _PREFIX_LEN)


def hash_sample(df: DataFrame, key_col: str, rate: float, salt: str = "") -> DataFrame:
    """Keep ~rate of rows, membership decided by md5(salt || key).

    Different salts give independent samples; the same salt gives nested
    samples (rate 0.05 ⊂ rate 0.10) — the standard trick for growing a
    training subset without resampling what's already processed."""
    th = rate_to_hex_threshold(rate)
    return df.where(hash_bucket(F.col(key_col), salt) < F.lit(th))


def train_eval_split(
    df: DataFrame, key_col: str, eval_rate: float = 0.01, salt: str = "split"
) -> DataFrame:
    """Adds a `split` column ('train'/'eval') — same hash, two sides, so
    the split is leak-free by construction and stable as data grows."""
    th = rate_to_hex_threshold(eval_rate)
    return df.withColumn(
        "split",
        F.when(hash_bucket(F.col(key_col), salt) < F.lit(th), F.lit("eval"))
        .otherwise(F.lit("train")),
    )


def weighted_mix(
    df: DataFrame, key_col: str, stratum_col: str, rates: dict[str, float],
    default_rate: float = 0.0, salt: str = "mix",
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive:
    `rates` maps stratum value -> keep probability (e.g. upweight curated
    sources, downweight crawl). One CASE expression resolves the
    threshold, one hash decides membership; filter evaluates at the scan,
    so a 100 TB mix job is a single pass with no shuffle."""
    th = F.lit(rate_to_hex_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        th = F.when(F.col(stratum_col) == value,
                    F.lit(rate_to_hex_threshold(rate))).otherwise(th)
    return df.where(hash_bucket(F.col(key_col), salt) < th)


def weighted_hash_sample(
    df: DataFrame, key_col: str, weight_col: str, max_weight: int,
    salt: str = "wsample",
) -> DataFrame:
    """Weight-proportional deterministic Bernoulli sample: keep a row
    with probability ``weight / max_weight`` (weights above the cap keep
    with probability 1).

    Membership test is pure integer arithmetic —
    ``bucket * max_weight < weight * 65536`` with ``bucket`` the first
    16 bits of md5(salt || key) — so there is no float division whose
    rounding could differ between engines, and the filter evaluates at
    the scan (no shuffle, no state), same as hash_sample. Used for
    importance-weighted corpus subsetting (e.g. keep long documents
    proportionally more often)."""
    bucket = F.conv(hash_bucket(F.col(key_col), salt), 16, 10).cast("long")
    w = F.least(F.col(weight_col).cast("long"), F.lit(max_weight))
    return df.where(bucket * F.lit(max_weight) < w * F.lit(_SPACE))


def token_budget_head(
    df: DataFrame, key_col: str, tokens_col: str, order_col: str,
    budget: int,
) -> DataFrame:
    """Highest-quality prefix under a token budget: order by `order_col`
    descending (quality score), keep rows while the running token total
    stays within `budget`. Adds `cum_tokens`.

    A single GLOBAL window (no partitionBy) serializes the corpus through
    one reducer — fine for a bounded candidate set, a scale-killer on the
    full corpus. The production form is ``token_budget_head_stratified``
    below; this global variant is kept for the exact single-budget
    semantic on pre-shrunk inputs."""
    from pyspark.sql import Window

    w = (
        Window.orderBy(F.desc(order_col), F.asc(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_tokens", F.sum(tokens_col).over(w))
        .where(F.col("cum_tokens") <= budget)
    )


def token_budget_head_stratified(
    df: DataFrame, key_col: str, tokens_col: str, order_col: str,
    stratum_col: str, budget_per_stratum: int,
) -> DataFrame:
    """Per-stratum token-budget head — the 100 TB form of the curation
    step: each stratum (language, source, ...) gets its own budget and its
    own running-sum window, so the cumulative sum parallelizes across
    strata instead of funnelling the corpus through one reducer.

    Order within a stratum is (order_col DESC, key_col ASC) — the key
    tiebreak makes the prefix deterministic, so the result is
    value-hash-comparable cross-engine. Adds ``cum_tokens``."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(stratum_col)
        .orderBy(F.desc(order_col), F.asc(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_tokens", F.sum(tokens_col).over(w))
        .where(F.col("cum_tokens") <= budget_per_stratum)
    )


def deterministic_shuffle(
    df: DataFrame, key_col: str, salt: str = "shuffle-v1"
) -> DataFrame:
    """Seeded global shuffle of training order: sort by (md5(salt || key),
    key). Hash-sorting is the scale-safe way to shuffle 100 TB — Spark
    range-partitions on sampled hash bounds, so the 'random' order comes
    out of an ordinary distributed sort, reproducible across engines,
    cluster sizes and reruns. Changing `salt` is reshuffling.

    No global rank column here on purpose: a corpus-wide row_number is a
    single-reducer window (the token_budget_head lesson). Downstream
    either consumes the order positionally (write + read back in order)
    or takes a ranked head via ``shuffled_head``."""
    h = hash_bucket(F.col(key_col), salt=salt)
    return df.orderBy(h.asc(), F.col(key_col).asc())


def shuffled_head(
    df: DataFrame, key_col: str, k: int, salt: str = "shuffle-v1"
) -> DataFrame:
    """First ``k`` rows of the deterministic shuffle, with their 1-based
    ``shuffle_rank``. sort+limit collapses to TakeOrderedAndProject
    (distributed top-k, no global sort); the rank window then runs over
    just k rows — the single-partition window is bounded by k, not the
    corpus."""
    from pyspark.sql import Window

    h = hash_bucket(F.col(key_col), salt=salt)
    head = df.withColumn("__h", h).orderBy(
        F.col("__h").asc(), F.col(key_col).asc()
    ).limit(k)
    w = Window.orderBy(F.col("__h").asc(), F.col(key_col).asc())
    return head.withColumn("shuffle_rank", F.row_number().over(w)).drop("__h")


def pack_sequences(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    stratum_col: str,
    seq_budget: int,
    salt: str = "pack-v1",
) -> DataFrame:
    """Concatenate-then-chop sequence packing, the standard pretraining
    batch layout: within each stratum, order documents by a seeded hash
    (deterministic shuffle), run a cumulative token count, and assign each
    document to the fixed-budget sequence its first token falls into
    (``seq_id = (cum - n) div budget``). Documents may straddle a
    boundary — exactly the 'chop' in concatenate-then-chop; the consumer
    truncates/continues at read time using ``seq_offset``.

    All integer arithmetic, so packing assignments are value-checkable
    cross-engine. Windows are per-stratum — cumulative sums parallelize
    across strata (same design as token_budget_head_stratified: no global
    single-reducer window)."""
    from pyspark.sql import Window

    h = hash_bucket(F.col(key_col), salt=salt)
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(h.asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tokens_col).over(w)
    start = (cum - F.col(tokens_col)).cast("long")
    return (
        df.withColumn("__start", start)
        .withColumn(
            "seq_id",
            (F.col("__start") - F.pmod(F.col("__start"), F.lit(seq_budget)))
            / F.lit(seq_budget),
        )
        .withColumn("seq_id", F.col("seq_id").cast("long"))
        .withColumn("seq_offset", F.pmod(F.col("__start"), F.lit(seq_budget)))
        .drop("__start")
    )


def mixture_plan(
    df: DataFrame,
    text_col: str,
    source_col: str,
    weight: Column,
) -> DataFrame:
    """Token-budget mixture planning: given relative target WEIGHTS per
    source (``weight`` — any positive integer Column derived from the
    source), compute the largest total token budget T that respects the
    target ratios without over-sampling any source, and the per-source
    hash-sample rate that realizes it. This is the planning step before
    weighted_mix / weighted_hash_sample executes a training-mix build.

    All-integer arithmetic (div floors on both engines, so the result
    hash-checks exactly); ``normalize_text`` tokenization matches every
    other token-count surface in the repo:

        cap_s   = A_s * W div w_s     (total if source s binds)
        T       = min_s cap_s
        take_s  = T * w_s div W
        rate_bp = take_s * 10000 div A_s   (the binding source ~10000)

    Scale: one map-side-combined groupBy(source) over token counts (the
    only pass over data), then scalar 1-row aggregates joined back by
    broadcast — the same scalar-threshold join shape as TPC-H Q11."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    per_source = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(F.split(normalize_text(F.col(text_col)), " ")).alias("n"),
            weight.cast("long").alias("w"),
        )
        .groupBy("source")
        .agg(
            F.sum("n").alias("tokens"),
            F.max("w").alias("weight"),
        )
    )
    w_total = per_source.agg(F.sum("weight").alias("W"))
    caps = per_source.join(F.broadcast(w_total)).select(
        "source", "tokens", "weight", "W",
        F.expr("(tokens * W) div weight").alias("cap"),
    )
    t_min = caps.agg(F.min("cap").alias("T"))
    return (
        caps.join(F.broadcast(t_min))
        .select(
            "source",
            F.col("tokens").cast("long").alias("tokens"),
            F.col("weight").cast("long").alias("weight"),
            F.expr("(T * weight) div W").alias("take_tokens"),
            F.expr("((T * weight) div W) * 10000 div tokens").alias("rate_bp"),
        )
    )


def mixture_plan_temperature(
    df: DataFrame,
    text_col: str,
    source_col: str,
    temperature: int = 2,
) -> DataFrame:
    """Temperature-smoothed mixture planning (round 7) — the Pile/ROOTS
    move: target weights w_s = tokens_s^(1/temperature), flattening the
    natural size distribution so small high-quality sources are not
    drowned by the web crawl (T=1 keeps natural proportions, T→∞ is
    uniform). Same caps/quota algebra as mixture_plan, with the weight
    DERIVED from the aggregated per-source token totals instead of
    caller-supplied.

    ``temperature`` ∈ {1, 2}: T=2 uses floor(sqrt(tokens)) — IEEE 754
    sqrt is correctly rounded, so floor∘sqrt over integers is bit-exact
    in every engine and the plan stays hash-checkable; arbitrary real
    temperatures need pow(), whose cross-engine rounding is NOT
    guaranteed, so they are refused rather than silently approximate.

    Scale: identical to mixture_plan — one map-side-combined
    groupBy(source) pass over token counts, scalar broadcasts after."""
    if temperature not in (1, 2):
        raise ValueError(
            "temperature must be 1 (natural) or 2 (sqrt): other exponents "
            "require pow(), which is not cross-engine exact"
        )
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    per_source = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(F.split(normalize_text(F.col(text_col)), " ")).alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("tokens"))
    )
    w = F.col("tokens") if temperature == 1 else F.floor(F.sqrt("tokens"))
    weighted = per_source.withColumn("weight", w.cast("long"))
    w_total = weighted.agg(F.sum("weight").alias("W"))
    caps = weighted.join(F.broadcast(w_total)).select(
        "source", "tokens", "weight", "W",
        F.expr("(tokens * W) div weight").alias("cap"),
    )
    t_min = caps.agg(F.min("cap").alias("T"))
    return (
        caps.join(F.broadcast(t_min))
        .select(
            "source",
            F.col("tokens").cast("long").alias("tokens"),
            F.col("weight").cast("long").alias("weight"),
            F.expr("(T * weight) div W").alias("take_tokens"),
            F.expr("((T * weight) div W) * 10000 div tokens").alias("rate_bp"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_tokens: int = 16,
    stride: int = 8,
) -> DataFrame:
    """Sliding-window document chunking — the context-window split every
    pretraining/embedding pipeline applies to documents longer than the
    model's window (HF `return_overflowing_tokens` semantics): chunk i
    covers tokens [1 + i*stride, 1 + i*stride + max_tokens), the last
    chunk is the first one whose window reaches the document's end, so
    every token is covered and consecutive chunks overlap by
    (max_tokens - stride) tokens of context.

    n_chunks = 1 + ceil(max(n - max_tokens, 0) / stride), computed in
    INTEGER arithmetic ((x + stride - 1) div stride — cross-engine
    exact, no float ceil). One narrow stage: split once (materialized
    words array), per-row sequence + transform + slice — zero shuffle,
    zero Python; parallelism is the scan's. Output: (doc, chunk_idx,
    n_tokens, chunk_len, chunk_text)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import normalize_text

    tok = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
    ).select("doc", "__w", F.size("__w").alias("n_tokens"))
    n_chunks = F.lit(1) + F.expr(
        f"(greatest(n_tokens - {int(max_tokens)}, 0) + {int(stride) - 1}) "
        f"div {int(stride)}"
    )
    return (
        tok.select(
            "doc",
            "n_tokens",
            "__w",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_idx", "__i"
            ),
        )
        .select(
            "doc",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "n_tokens",
            F.least(
                F.lit(max_tokens),
                F.col("n_tokens") - F.col("chunk_idx") * stride,
            ).cast("int").alias("chunk_len"),
            F.array_join(
                F.slice(
                    "__w",
                    F.col("chunk_idx") * stride + 1,
                    F.lit(max_tokens),
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def group_kfold(
    df: DataFrame, group_col: str, k: int, salt: str = ""
) -> DataFrame:
    """Leakage-free k-fold assignment: every row of a GROUP (user,
    customer, dedup cluster) lands in the same fold, because the fold
    is a pure function of the group key — fold = (md5-prefix as int)
    * k / 65536. Same md5 determinism contract as hash_sample: no RNG,
    no shuffle to assign (the hash evaluates at the scan), reproducible
    across engines and runs, and adding rows to a group can never move
    the group between folds.

    This is THE split discipline for training-data pipelines: a random
    row-level split leaks near-duplicate / same-user rows across
    train/eval (see dedup.cluster_split for the cluster-level
    sibling). Adds a ``fold`` column in [0, k)."""
    if not 1 <= k <= 65536:
        raise ValueError(f"k must be in [1, 65536], got {k}")
    # hex prefix -> int via base conversion (conv in Spark, 0x-cast in
    # DuckDB); fold = v*k div 65536 is exact integer arithmetic and
    # gives each fold floor/ceil(65536/k) of the hash space.
    v = F.conv(hash_bucket(F.col(group_col), salt), 16, 10).cast("long")
    return df.withColumn(
        "fold", ((v * k) / 65536).cast("int")
    )


def curriculum_phases(
    df: DataFrame,
    stratum_col: str,
    difficulty_col: str,
    weight_col: str,
    id_col: str,
    n_phases: int,
) -> DataFrame:
    """Curriculum assignment: within each stratum (source, language),
    order documents easy -> hard by ``difficulty_col`` and cut the
    ordered stream into ``n_phases`` phases of (approximately) equal
    WEIGHT (token count), not equal document count — phase 0 is the
    easy warm-up budget, the last phase the hard tail. The curriculum-
    learning schedule (Bengio et al.) as a deterministic assignment:

        phase = ((cum_weight - w) * n) div total_weight

    where cum_weight is the inclusive running weight in (difficulty,
    id) order — the EXCLUSIVE prefix decides the phase, so a document
    lands in the phase where it STARTS, every phase boundary is exact
    integer arithmetic, and re-runs reproduce bit-identically.

    Shape: per-stratum windows only (running sum + per-stratum total),
    both partitioned on the stratum — no global window, no shuffle
    beyond the one stratum-key exchange the windows share.
    """
    if n_phases < 1:
        raise ValueError(f"n_phases must be >= 1, got {n_phases}")
    w_run = Window.partitionBy(stratum_col).orderBy(
        F.col(difficulty_col).asc(), F.col(id_col).asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(stratum_col)
    base = df.select(
        F.col(stratum_col),
        F.col(id_col),
        F.col(difficulty_col),
        F.col(weight_col).cast("long").alias("__w"),
    )
    return (
        base.withColumn("__cum", F.sum("__w").over(w_run).cast("long"))
        .withColumn("__tot", F.sum("__w").over(w_all).cast("long"))
        .select(
            stratum_col,
            id_col,
            difficulty_col,
            F.col("__w").alias("weight"),
            # nullif guards the all-zero-weight stratum: ANSI mode makes
            # a plain div-by-zero THROW; a NULL phase is the honest answer.
            F.expr(
                f"CAST((__cum - __w) * {int(n_phases)}L"
                " div nullif(__tot, 0L) AS INT)"
            ).alias("phase"),
        )
    )


def stratified_quota_sample(
    df: DataFrame, stratum_col: str, id_col: str, quota: int,
    salt: str = "",
) -> DataFrame:
    """Exactly min(quota, |stratum|) rows per stratum, chosen by md5
    hash order — the eval-set builder: deterministic (same corpus +
    salt => same sample), reproducible across engines, and balanced by
    construction where a Bernoulli sample leaves small strata empty
    and large ones oversized.

    Shape: one window per stratum ranked by (md5(salt||id), id) —
    the per-stratum sort parallelizes across strata; rank <= quota
    compiles to WindowGroupLimit, so map tasks forward at most `quota`
    rows per stratum before the exchange (the same bounded-window
    contract as the KMV sketches). No RNG, no count pass, no driver."""
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))).asc(),
        F.col(id_col).asc(),
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= quota)
        .drop("__rk")
    )


def negative_samples(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    items: DataFrame,
    item_id_col: str,
    k: int,
    oversample: int = 4,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training
    (the contrastive complement of similarity.hard_negative_mining's
    embedding-based negatives): for every user in ``positives``, ``k``
    items they did NOT interact with, drawn pseudo-randomly but
    REPRODUCIBLY — draw j's candidate is the item whose dense index is
    md5(salt||user||'-'||j)'s first 32 bits mod |items|, so the sample
    is a pure function of (corpus, salt): same inputs => same
    negatives on every engine and every rerun, the property an RNG
    (and Spark's per-partition rand()) cannot give.

    Shape: the item dictionary gets a dense 0..n-1 index via
    ``global_ranks`` (range-partitioned, no single-reducer window);
    each user explodes into k·oversample draws (a LINEAR candidate
    relation); candidates join the dictionary on the integer index,
    anti-join the positives (both shuffle_hash — user-item relations
    are corpus-sized at scale, never broadcast), collapse duplicate
    hits to their first draw, and a per-user window keeps the first
    ``k`` surviving draws. Oversampling covers draws lost to
    collisions/positives; with item sets >> per-user history the
    default 4x makes a short fill vanishingly rare (and a short fill
    is visible in the output, not silent: fewer than k rows for that
    user).

    Output: user, item (negative), ``draw`` (the j that found it),
    ``rank`` (1..k by draw order)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_ranks,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if oversample < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    dict_items = items.select(F.col(item_id_col).alias("__item")).distinct()
    n_items = dict_items.count()
    if n_items == 0:
        raise ValueError("items relation is empty")
    idx_items = global_ranks(dict_items, ["__item"], rank_name="__r").select(
        (F.col("__r") - 1).alias("__idx"), "__item"
    )
    users = positives.select(F.col(user_col).alias("__u")).distinct()
    draws = users.withColumn(
        "__j",
        F.explode(
            F.array(*[F.lit(j) for j in range(1, k * oversample + 1)])
        ),
    )
    hex8 = F.substring(
        F.md5(
            F.concat(
                F.lit(salt),
                F.col("__u").cast("string"),
                F.lit("-"),
                F.col("__j").cast("string"),
            )
        ),
        1,
        8,
    )
    cand = draws.withColumn(
        "__idx",
        F.pmod(F.conv(hex8, 16, 10).cast("long"), F.lit(n_items)),
    )
    pos = positives.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__item")
    ).distinct()
    surviving = (
        cand.join(idx_items.hint("shuffle_hash"), "__idx")
        .join(pos.hint("shuffle_hash"), ["__u", "__item"], "left_anti")
        .groupBy("__u", "__item")
        .agg(F.min("__j").alias("draw"))
    )
    w = Window.partitionBy("__u").orderBy("draw")
    return (
        surviving.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__u").alias(user_col),
            F.col("__item").alias(item_col),
            F.col("draw").cast("long").alias("draw"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def kcenter_select(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_driver_vecs: int = 200_000,
) -> "DataFrame":
    """Greedy k-center (farthest-point / Gonzalez) coreset selection
    over an embedding column — the diversity-maximizing data-selection
    primitive (pick k maximally spread exemplars; 2-approximation to
    the optimal covering radius).

    Distributed shape: k LINEAR passes. Each pass scores every vector's
    Euclidean distance to the ≤k already-chosen centers as one JVM
    expression (zip_with/aggregate folds — no UDF, no shuffle beyond
    the top-1 TakeOrdered), takes the argmax of the ROUNDED min
    distance (micro-units; ties by id — deterministic cross-engine),
    and collects exactly ONE row (bounded by contract: k rows total
    ever reach the driver). The seed step is distance-to-origin (max
    norm). No quadratic pair materialization at any point; corpus is
    never collected.

    Small-relation crossover (the ``connected_components`` routing
    pattern): at or under ``max_driver_vecs`` rows (~100 MB of doubles
    at dim 64) the k sequential argmax jobs are pure scheduling — the
    loop runs on the driver instead, BIT-IDENTICALLY: the squared
    distance accumulates dimension-by-dimension in the same
    left-fold order as the JVM ``aggregate`` expression, the same
    IEEE sqrt and HALF_UP micro-rounding apply, and ties break by id
    ascending. Equality of the two paths is pinned by test
    (``max_driver_vecs=0`` forces the distributed loop)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import _dot

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )

    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        local_df,
        within_driver_bound,
    )

    if within_driver_bound(base, int(max_driver_vecs)):
        import numpy as np

        rows = base.collect()
        if not rows:
            return local_df(
                df.sparkSession, [],
                "step long, vec_id long, dist_micro long",
            )
        ids = [r["__id"] for r in rows]
        V = np.array([list(r["__v"]) for r in rows], dtype=np.float64)
        n, dim = V.shape

        def dists_to(c):
            # dimension-by-dimension LEFT FOLD — the exact float
            # summation order of the JVM aggregate expression (numpy
            # pairwise sum would round differently)
            acc = np.zeros(n, dtype=np.float64)
            for j in range(dim):
                d = V[:, j] - c[j]
                acc = acc + d * d
            return np.sqrt(acc)

        def round_micro(x):
            return np.floor(x * 1e6 + 0.5).astype(np.int64)

        chosen = []
        mind = None
        # clamp to n: with k > n every vector is eventually chosen and
        # the masked score would be all -1, silently re-selecting
        # already-chosen ids — both paths return min(k, n) rows instead
        for step in range(min(int(k), n)):
            if step == 0:
                score = round_micro(dists_to(np.zeros(dim)))
            else:
                dnew = round_micro(dists_to(V[chosen[-1][4]]))
                mind = dnew if mind is None else np.minimum(mind, dnew)
                score = mind
            s = score.copy()
            for c in chosen:
                s[c[4]] = -1  # already-chosen ids never re-selected
            best_d = int(s.max())
            ties = np.nonzero(s == best_d)[0]
            best_i = min(ties, key=lambda i: ids[i])  # ties -> min id
            chosen.append((step, ids[best_i], best_d, None, int(best_i)))
        return local_df(
            df.sparkSession,
            [(int(s), int(i), int(d)) for (s, i, d, _, _) in chosen],
            "step long, vec_id long, dist_micro long",
        )

    def dist_to(center_vec: list[float]):
        c = F.array(*[F.lit(float(x)) for x in center_vec])
        sq = F.zip_with(F.col("__v"), c, lambda p, q: (p - q) * (p - q))
        return F.sqrt(
            F.aggregate(sq, F.lit(0.0).cast("double"), lambda a, v: a + v)
        )

    first = base.select("__v").first()
    if first is None:
        return local_df(
            df.sparkSession, [],
            "step long, vec_id long, dist_micro long",
        )
    dim = len(first["__v"])
    chosen: list[tuple] = []  # (step, id, dist_micro, vector)
    for step in range(k):
        if step == 0:
            score = dist_to([0.0] * dim)
        elif step == 1:
            score = dist_to(chosen[0][3])
        else:
            score = F.least(*[dist_to(vec) for (_, _, _, vec) in chosen])
        top = (
            base.where(
                ~F.col("__id").isin([cid for (_, cid, _, _) in chosen])
                if chosen
                else F.lit(True)
            )
            .select(
                "__id",
                F.round(score * F.lit(1e6), 0).cast("long").alias("__d"),
                "__v",
            )
            .orderBy(F.desc("__d"), F.asc("__id"))
            .limit(1)
            .collect()
        )
        if not top:  # k > n: every vector already chosen — stop, as
            break    # the driver path does (both return min(k, n) rows)
        cand = top[0]
        chosen.append((step, cand["__id"], cand["__d"], cand["__v"]))
    spark = df.sparkSession
    return local_df(
        spark,
        [(int(s), int(i), int(d)) for (s, i, d, _) in chosen],
        "step long, vec_id long, dist_micro long",
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: stratum h gets
    budget · (N_h·σ_h) / Σ(N_j·σ_j) — variance-proportional sampling,
    the design that minimizes the estimator's variance for a fixed
    budget (vs proportional allocation that over-samples homogeneous
    strata).

    Integer pipeline: per-stratum population variance is the exact
    rational (n·Sxx − Sx²)/n² truncated to fixed point, σ_h is its
    floor-isqrt (floor(sqrt(x)) — IEEE sqrt is correctly rounded, so
    the floor agrees cross-engine for x < 2^52), and seats assign by
    the largest-remainder method (quota div + ranked remainders, ties
    by stratum asc) so allocations sum to the budget EXACTLY. One
    corpus pass; everything after runs on the strata-bounded
    relation."""
    from pyspark.sql import Window

    per = df.groupBy(F.col(stratum_col).alias("h")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_h"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col(value_col).cast("decimal(38,0)")
            * F.col(value_col).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("sxx"),
    ).select(
        "h",
        F.col("n_h").cast("long").alias("n_pop"),
        # weight_h = N_h * floor(sqrt(var_h)), var in value^2 units
        (
            F.col("n_h").cast("long")
            * F.floor(
                F.sqrt(
                    F.expr("(n_h * sxx - sx * sx) div (n_h * n_h)")
                    .cast("double")
                )
            ).cast("long")
        ).cast("long").alias("w_h"),
    )
    tot = per.agg(F.sum("w_h").cast("long").alias("w_tot"))
    quota = per.crossJoin(F.broadcast(tot)).select(
        "h", "n_pop", "w_h",
        F.expr(f"w_h * {budget} div w_tot").cast("long").alias("base_n"),
        F.expr(f"(w_h * {budget}) % w_tot").cast("long").alias("rem"),
    )
    short = quota.agg(
        (F.lit(budget) - F.sum("base_n")).cast("long").alias("extra")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("h"))
    return (
        quota.crossJoin(F.broadcast(short))
        .withColumn("rk", F.row_number().over(w))
        .select(
            F.col("h").alias(stratum_col),
            "n_pop", "w_h",
            (
                F.col("base_n")
                + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
            ).cast("long").alias("n_alloc"),
        )
    )


def pps_systematic_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling — the
    survey-statistics PPS design, fully DETERMINISTIC (fixed centered
    offset, no RNG): lay k equally-spaced points over the cumulative
    weight axis (stride S = W div k, offset S div 2) and select the
    item whose cumulative interval contains each point. Items heavier
    than the stride are selected with multiplicity — the PPS
    contract, reported in ``multiplicity`` rather than silently
    capped.

    Selection count per item is a difference of point-counting
    functions on the cumulative weight: m_i = f(C_i) - f(C_{i-1})
    with f(C) = (C + S - offset - 1) div S = #points strictly below C
    (operands kept non-negative so Spark's and DuckDB's
    truncate-toward-zero division agree with floor). Cumulative
    weights come from `global_prefix_sum` over the (id) total order —
    range shuffle + bounded offsets, checkpoint-pinned. Output:
    (id, weight, multiplicity > 0 rows only); achieved size
    sum(multiplicity) is k or k±1 from stride flooring.
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_prefix_sum,
    )

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(weight_col).cast("long").alias("__w"),
    ).where(F.col("__w") > 0)
    cum = global_prefix_sum(base, ["__id"], "__w", prefix_name="__c",
                            keep_total=True)
    stride = F.expr("__total div %d" % int(k))
    # f(C) with integer-only ops: offset = S div 2 folded inline:
    # (C + S - S div 2 - 1) div S
    f_hi = F.expr("(__c + __s - __s div 2 - 1) div __s")
    f_lo = F.expr("(__c - __w + __s - __s div 2 - 1) div __s")
    return (
        cum.withColumn("__s", stride.cast("long"))
        .withColumn("__m", (f_hi - f_lo).cast("long"))
        .where(F.col("__m") > 0)
        .select(
            F.col("__id").alias(id_col),
            F.col("__w").alias(weight_col),
            F.col("__m").alias("multiplicity"),
        )
    )


def weighted_quantiles_exact(
    df: DataFrame, value_col: str, weight_col: str, id_col: str,
    qs_ppm: list,
) -> DataFrame:
    """Exact WEIGHTED quantiles: the smallest value v whose cumulative
    weight reaches ceil(q*W) — `percentile_disc` generalized to
    weighted rows, computed distributively (no single-reducer
    percentile): one prefix pass over the (value, id) total order,
    then each requested quantile is a bounded filter+min fold. The
    quantile list is a literal broadcast (bounded by contract).

    Returns (q_ppm, value) — one row per requested quantile.
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_prefix_sum,
    )

    base = df.select(
        F.col(value_col).cast("long").alias("__v"),
        F.col(id_col).alias("__id"),
        F.col(weight_col).cast("long").alias("__w"),
    ).where(F.col("__w") > 0)
    cum = global_prefix_sum(base, ["__v", "__id"], "__w",
                            prefix_name="__c", keep_total=True)
    qs = F.array(*[F.lit(int(q)) for q in qs_ppm])
    # target = ceil(q * W / 1e6), integer form (q*W + 1e6 - 1) div 1e6.
    # Computed ONCE PER QUANTILE on a len(qs)-row relation: q*W needs
    # DECIMAL(38,0) (q_ppm<=1e6 times a BIGINT weight total overflows
    # BIGINT), and BigDecimal per corpus row was the query's entire
    # cost — the r11 profile caught the old explode-then-filter form
    # (len(qs) DECIMAL multiplies per row) at 9.7-284 s of task time
    # for a 6 MB stage, JIT-unstable. The quotient is <= W so it lands
    # back in a plain BIGINT, and the corpus side now pays one long
    # comparison per (row, quantile) in a broadcast join instead.
    targets = base.agg(F.sum("__w").cast("long").alias("__total")).select(
        F.explode(qs).alias("q_ppm"), "__total"
    ).select(
        "q_ppm",
        F.expr(
            "CAST(CAST(q_ppm AS DECIMAL(38,0)) * __total + 999999"
            " AS DECIMAL(38,0)) div 1000000"
        ).cast("long").alias("__target"),
    )
    hit = cum.join(
        F.broadcast(targets), F.col("__c") >= F.col("__target")
    )
    return hit.groupBy("q_ppm").agg(
        F.min("__v").cast("long").alias("value")
    )


def waterfill_allocation(
    df: DataFrame,
    text_col: str,
    source_col: str,
    budget_ppm_of_total: int = 500_000,
) -> DataFrame:
    """Water-filling token allocation: spend a total token budget B as
    UNIFORMLY across sources as their availability allows — small
    sources contribute everything they have, large sources are capped
    at a common water level L with sum(min(cap_s, L)) = B. The
    max-min-fair mixture plan (uniform-as-possible sampling under
    per-source availability), complementing mixture_plan (fixed target
    ratios) and mixture_plan_temperature (power-law reweighting).

    The level solves a piecewise-linear equation; relationally: sort
    sources by cap ascending (global_ranks — distributed, source count
    is small but the shape stays general), prefix-sum the caps, and for
    the first source where
        prefix_below + cap_s * remaining_sources >= B
    the level is L = (B - prefix_below) div remaining_sources over the
    sources at or above it. Integer floor everywhere; the leftover
    B - sum(alloc) from flooring stays unspent (deterministic,
    auditable) rather than being redistributed.

    Scale: one map-side-combined groupBy(source) token count (the only
    corpus pass), then source-count-bounded rank/prefix arithmetic and
    a broadcast scalar join — the Q11 scalar-threshold shape."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_ranks,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    caps = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(F.split(normalize_text(F.col(text_col)), " "))
            .cast("long").alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("cap"))
    )
    total = caps.agg(
        F.sum("cap").cast("long").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("__nsrc"),
    ).select(
        "__total", "__nsrc",
        F.expr(f"CAST(__total * {int(budget_ppm_of_total)} AS BIGINT)"
               " div 1000000").alias("__budget"),
    )
    ranked = global_ranks(
        caps, [F.col("cap").asc(), F.col("source").asc()],
        rank_name="__rk", keep_total=True,
    )
    w = Window.orderBy("__rk").rowsBetween(Window.unboundedPreceding, -1)
    # sources are a bounded dictionary (the only partitionBy-less window
    # in this operator runs over <= |sources| rows — the global_ranks
    # offsets convention)
    pre = ranked.withColumn(
        "__below", F.coalesce(F.sum("cap").over(w), F.lit(0).cast("long"))
    )
    sol = (
        pre.crossJoin(F.broadcast(total))
        .withColumn(
            "__nabove", F.col("__nsrc") - F.col("__rk") + 1
        )
        .withColumn(
            "__binds",
            (F.col("__below") + F.col("cap") * F.col("__nabove"))
            >= F.col("__budget"),
        )
    )
    # the first binding row determines the level; if none binds the
    # budget exceeds supply and every source gives everything. The
    # trailing global agg makes that fallback REAL: an empty binding
    # set still yields exactly one row (__level NULL), so the
    # coalesce(__level, cap) below fires instead of the crossJoin
    # annihilating the output.
    lvl = (
        sol.where("__binds")
        .orderBy("__rk")
        .limit(1)
        .select(
            F.expr("CAST(__budget - __below AS BIGINT) div __nabove")
            .alias("__level")
        )
        .agg(F.min("__level").alias("__level"))
    )
    out = (
        sol.crossJoin(F.broadcast(lvl))
        .select(
            "source", "cap",
            F.least(F.col("cap"), F.coalesce("__level", F.col("cap")))
            .cast("long").alias("allocated"),
            F.expr(
                "CAST(least(cap, coalesce(__level, cap)) * 1000000 AS BIGINT)"
                " div cap"
            ).alias("take_rate_ppm"),
        )
    )
    return out.orderBy("source")


def batch_padding_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    batch_size: int = 32,
) -> DataFrame:
    """Padding-waste report for fixed-size inference/training batches:
    every batch pads its members to the batch max length, so waste =
    sum(max_len - len) over members. Compares ARRIVAL-order batching
    (rank by id) against LENGTH-SORTED batching (rank by length desc,
    id tiebreak — the dynamic-batching trick every serving stack uses:
    like-length docs batch together, so the max is barely above the
    mean). One row per strategy: batches, real tokens, padded slots,
    waste ppm.

    Both rankings ride `global_ranks` (range shuffle + broadcast
    offsets — no single-reducer window); the per-batch aggregation
    keys on (strategy, batch) and partial-combines; everything integer
    (waste_ppm = floor), so the comparison hash-checks cross-engine."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import (
        global_ranks,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import (
        normalize_text,
    )

    base = df.select(
        F.col(id_col).alias("__id"),
        F.size(F.split(normalize_text(F.col(text_col)), " "))
        .cast("long").alias("len"),
    )
    plans = []
    for name, order in (
        ("arrival", [F.col("__id").asc()]),
        ("length_sorted", [F.col("len").desc(), F.col("__id").asc()]),
    ):
        ranked = global_ranks(base, order, rank_name="__rk")
        plans.append(
            ranked.select(
                F.lit(name).alias("strategy"),
                F.expr(f"CAST(__rk - 1 AS BIGINT) div {int(batch_size)}")
                .alias("__batch"),
                "len",
            )
            .groupBy("strategy", "__batch")
            .agg(
                F.count(F.lit(1)).cast("long").alias("__n"),
                F.max("len").alias("__mx"),
                F.sum("len").cast("long").alias("__sum"),
            )
        )
    per_batch = plans[0].unionByName(plans[1])
    return (
        per_batch.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("__sum").cast("long").alias("real_tokens"),
            F.sum(F.col("__n") * F.col("__mx")).cast("long")
            .alias("padded_slots"),
        )
        .select(
            "strategy", "n_batches", "real_tokens", "padded_slots",
            F.expr(
                "CAST((padded_slots - real_tokens) * 1000000 AS BIGINT)"
                " div padded_slots"
            ).alias("waste_ppm"),
        )
        .orderBy("strategy")
    )
