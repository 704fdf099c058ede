"""Record linkage: sorted-neighborhood candidates, Fellegi–Sunter-style
multi-field scoring, and inclusion-dependency (FK) discovery.

Provenance: the reference pipeline's discovery pass enumerates tables,
columns and PRIMARY keys from the warehouse catalog (tap-redshift
``discover.py:20-54``) and ships entity rows downstream. This module
adds the two follow-on questions every synced entity corpus raises
that the catalog cannot answer:

- *which rows are the same real-world thing* — record linkage. The
  dedup family already covers single-field fuzzy match
  (``dedup.editdist_pairs``) and token/vector similarity; here we add
  the two classical multi-record primitives it lacks:

  - :func:`sorted_neighborhood_pairs` — the Hernández–Stolfo sorted
    neighborhood method: order records by a blocking KEY and emit all
    pairs within a rank window. Complements hash blocking (a typo in
    the block key breaks hash blocking entirely; under SNM the records
    still sort adjacently). Built on ``analytics.global_ranks`` — the
    distributed range-partitioned ranking, NOT a single-reducer global
    window — so candidate generation is one range shuffle plus one
    integer equi-join of size n·window.

  - :func:`linkage_scores` — Fellegi–Sunter scoring over a candidate
    pair relation: per-field agree/disagree integer weights (log-odds
    scaled by the caller; integers so scores hash cross-engine), one
    score column plus an agreement bitmask for downstream calibration.
    Pure column algebra — no shuffle beyond what the candidate
    generator already paid.

- *which columns reference which* — inclusion-dependency discovery
  (:func:`inclusion_dependencies`): the FK-detection complement of the
  reference's PK scan (``tap-redshift/src/discover.py`` reads
  ``information_schema`` constraints; warehouses routinely DECLARE no
  FKs, so at migration time you must MINE them). For each candidate
  (child column → parent column): distinct child values, violation
  count, containment ppm.

Scale shapes: SNM is linear (n·window candidate rows; the rank join is
an integer equi-join, shuffle_hash — never SMJ, never a broadcast of a
corpus-sized side). Inclusion-dependency checks collapse both sides to
distinct VALUE dictionaries before the join — the join is
dictionary-sized, not row-sized, and the left join against the
deduplicated parent side cannot fan out. Candidate lists are
config-bounded (schema-sized), so the per-candidate loop is a bounded
plan union, not a data-driven driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.analytics import global_ranks
from redshift_to_pendo_api_data_pipeline_spark.operators.basket import undirected_edges


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int,
) -> DataFrame:
    """Candidate pairs within ``window`` positions of each other in the
    global ``(key, id)`` sort order — the sorted neighborhood method.

    Output: ``id_a, id_b, key_a, key_b, rank_gap`` (1 ≤ rank_gap ≤
    window). ``id_a`` is the earlier record in sort order; each
    unordered pair appears once. Verification (edit distance, token
    overlap, field scoring) is the caller's compose step — this
    operator only bounds the quadratic.

    The global rank comes from ``global_ranks`` (range repartition +
    per-partition offsets, deterministic given the total order
    ``(key, id)``); the window join materializes each record ``window``
    times with rank+k probes — n·window rows joined back on the integer
    rank, an equi-join AQE can hash either way (hinted shuffle_hash:
    both sides are corpus-sized).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    ranked = global_ranks(
        df.select(F.col(id_col), F.col(key_col)),
        [key_col, id_col],
        rank_name="__rank",
    )
    probes = (
        ranked.select(
            F.col(id_col).alias("id_a"),
            F.col(key_col).alias("key_a"),
            F.col("__rank").alias("__ra"),
        )
        .withColumn(
            "rank_gap",
            F.explode(F.array(*[F.lit(k) for k in range(1, window + 1)])),
        )
        .withColumn("__rb", F.col("__ra") + F.col("rank_gap"))
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col(key_col).alias("key_b"),
        F.col("__rank").alias("__rb"),
    )
    return probes.join(right.hint("shuffle_hash"), "__rb").select(
        "id_a", "id_b", "key_a", "key_b",
        F.col("rank_gap").cast("long").alias("rank_gap"),
    )


def linkage_scores(
    pairs: DataFrame,
    rules: list[tuple[str, Column, int, int]],
) -> DataFrame:
    """Fellegi–Sunter-style composite score over a candidate pair
    relation: for each rule ``(name, agree_predicate, w_agree,
    w_disagree)`` the pair earns ``w_agree`` when the predicate holds
    and ``w_disagree`` (typically negative) when it does not; the
    weights are caller-scaled integer log-odds, so the resulting
    ``link_score`` is exact cross-engine.

    Adds ``link_score`` (BIGINT sum) and ``agree_mask`` (bit i set ⇔
    rule i agreed, in list order) — the mask feeds match-weight
    calibration (per-pattern frequency counts) without re-evaluating
    predicates. Pure projection: whatever shuffle produced ``pairs`` is
    the only shuffle."""
    if not rules:
        raise ValueError("at least one rule required")
    if len(rules) > 63:
        raise ValueError("agree_mask is a 64-bit integer: at most 63 rules")
    score = None
    mask = None
    for i, (_, pred, w_agree, w_disagree) in enumerate(rules):
        term = F.when(pred, F.lit(int(w_agree))).otherwise(
            F.lit(int(w_disagree))
        )
        bit = F.when(pred, F.lit(1 << i)).otherwise(F.lit(0))
        score = term if score is None else score + term
        mask = bit if mask is None else mask + bit
    return pairs.withColumn("link_score", score.cast("long")).withColumn(
        "agree_mask", mask.cast("long")
    )


def inclusion_dependencies(
    candidates: list[tuple[str, DataFrame, str, str, DataFrame, str]],
) -> DataFrame:
    """Inclusion-dependency report for a config-bounded candidate list
    ``(child_ref, child_df, child_col, parent_ref, parent_df,
    parent_col)``: one row per candidate with

        n_child_distinct  distinct non-null child values
        n_violations      child values absent from the parent column
        containment_ppm   (contained · 1e6) div distinct  (0 when the
                          child column is empty)

    ``containment_ppm == 1_000_000`` is a mined FK; high-but-partial
    values flag orphaned rows (the data-quality reading). Both sides
    collapse to distinct value dictionaries BEFORE the join, so each
    check joins dictionaries, not row streams; the parent side is
    deduplicated so the left join cannot fan out. The union is
    plan-level (one job, candidate-list-bounded branches)."""
    if not candidates:
        raise ValueError("at least one candidate required")
    out = None
    for child_ref, cdf, ccol, parent_ref, pdf, pcol in candidates:
        child_vals = (
            cdf.select(F.col(ccol).cast("string").alias("__v"))
            .where(F.col("__v").isNotNull())
            .distinct()
        )
        parent_vals = (
            pdf.select(F.col(pcol).cast("string").alias("__v"))
            .where(F.col("__v").isNotNull())
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        # dictionary×dictionary equi-join: shuffle_hash (both sides can
        # be key-cardinality at 100 TB — no forced broadcast, no SMJ)
        joined = child_vals.join(
            parent_vals.hint("shuffle_hash"), "__v", "left"
        )
        row = joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_child_distinct"),
            F.sum(
                F.when(F.col("__hit").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_violations"),
        ).select(
            F.lit(child_ref).alias("child_ref"),
            F.lit(parent_ref).alias("parent_ref"),
            "n_child_distinct",
            "n_violations",
            F.when(F.col("n_child_distinct") == 0, F.lit(0))
            .otherwise(
                F.expr(
                    "(n_child_distinct - n_violations) * 1000000L"
                    " div n_child_distinct"
                )
            )
            .cast("long")
            .alias("containment_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def candidate_keys(
    df: DataFrame, cols: list[str], max_width: int = 2
) -> DataFrame:
    """Candidate-key mining — the PK-DISCOVERY complement of the
    reference's declared-PK scan (tap-redshift reads
    ``information_schema`` key constraints; a warehouse with no
    declared keys needs them mined, same motivation as
    :func:`inclusion_dependencies`): for every single column and (with
    ``max_width=2``) column pair, the distinct-tuple count and
    uniqueness ratio; ``uniqueness_ppm == 1_000_000`` is a candidate
    key. Every reported count is EXACT.

    Plan (r8 rewrite — the one-agg version planned a single Expand
    that multiplied every input row by the combo count (21 for 6
    columns) before the distinct shuffles; shuffle volume was up to
    21 corpora and the whole map side ran inside the scan stage):

    1. Project the columns, spread to full parallelism when the scan
       arrives under-partitioned (a small-file local fixture scans as
       ONE task; the Expand then ran single-threaded — the measured 6x
       cost was this, not the agg). At warehouse scale the scan keeps
       its natural partitioning. The base is not pinned: the row
       count, the singles pass and (when pairs survive step 3) the
       remaining-pairs pass each re-read the source — a pin here did
       not win its A/B.
    2. SINGLES pass: one (gid, md5-digest) explode + two-level
       dedup-count — no multi-countDistinct agg, so no Catalyst
       distinct-rewrite (measured at ~0.2s of DRIVER PLANNING per
       distinct expression; the old plan's 4.7s planning dwarfed its
       0.1s of execution) and the shuffle carries 16-byte digests,
       never values.
    3. Key propagation (the apriori step of key mining): any pair
       containing a proven single-column key has n_distinct == n_rows
       BY DEFINITION — emitted as literals, no scan, no shuffle. On a
       table with k key columns this deletes k*(w-1) corpus-sized
       distinct shuffles, the dominant ones (near-unique combos get
       no map-side dedup, so each would shuffle ~a full corpus).
    4. REMAINING-pairs pass: same explode shape over the base,
       sized to the surviving pairs only (sub-key combos dedup
       map-side by definition of being sub-key, so this shuffle is
       the cheap one).

    The per-pass counts collected driver-side are <= C(w,2)+w longs —
    a bounded sidecar (repo .collect() convention). Combo count is
    schema-bounded (C(w,1)+C(w,2)), never data-bounded.

    Null caveat: single-column counts ignore NULLs (SQL COUNT DISTINCT
    semantics in both engines); pair counts use struct tuples, which
    count a tuple containing a NULL — document columns are expected
    null-free for exact key claims."""
    if not cols:
        raise ValueError("at least one column required")
    if max_width not in (1, 2):
        raise ValueError(f"max_width must be 1 or 2, got {max_width}")
    ordered = sorted(cols)
    spark = df.sparkSession
    base = df.select(*[F.col(c) for c in ordered])
    target_par = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target_par:
        base = base.repartition(target_par)

    def _digest(cs: list[str]):
        # 128-bit tuple digest as a struct of two independently seeded
        # xxhash64 longs (r11 — replaces md5 over a length-prefixed
        # string encode: building and hex-encoding a string per
        # (row, combo) was this operator's entire CPU, and the digest
        # shuffle carried 32-char strings instead of 16 bytes). The
        # isnull flag precedes every column because Spark hash
        # functions SKIP null inputs (hash(null, x) == hash(x)) —
        # the boolean restores null-distinguishing injectivity.
        # Collision odds per combo at 128 bits are ~k^2/2^129 —
        # the same exact-by-construction convention as the repo's
        # md5 digests (16 bytes either way).
        parts = []
        for c in cs:
            parts.append(F.col(c).isNull())
            parts.append(F.col(c))
        return F.struct(
            F.xxhash64(F.lit(1), *parts).alias("h1"),
            F.xxhash64(F.lit(2), *parts).alias("h2"),
        )

    def _distinct_counts(entry_structs) -> dict[int, int]:
        # (gid, md5-digest) explode -> two-level dedup-count. Chosen
        # over a multi-countDistinct agg DELIBERATELY: Catalyst's
        # distinct-aggregate rewrite costs ~0.2s of driver planning
        # PER distinct expression (4.7s for 21 on this plan shape —
        # the measured bulk of the old 5.95s), while this shape plans
        # in one pass and shuffles 16-byte digests, never values
        # (md5-as-exact is the repo dedup convention).
        ex = base.select(
            F.explode(F.array(*entry_structs)).alias("e")
        ).where(F.col("e").isNotNull())
        rows = (
            ex.select("e.gid", "e.k")
            .groupBy("gid", "k").agg(F.lit(1))
            .groupBy("gid")
            .agg(F.count(F.lit(1)).cast("long").alias("nd"))
            .collect()
        )
        return {r["gid"]: r["nd"] for r in rows}

    n_rows = base.count()
    singles_nd = _distinct_counts([
        F.when(
            F.col(c).isNotNull(),
            F.struct(F.lit(i).alias("gid"), _digest([c]).alias("k")),
        )
        for i, c in enumerate(ordered)
    ])
    single_nd = {c: singles_nd.get(i, 0) for i, c in enumerate(ordered)}
    keys = {c for c, nd in single_nd.items() if nd == n_rows}

    results: list[tuple[str, int]] = [
        (c, single_nd[c]) for c in ordered
    ]
    rem_pairs: list[tuple[str, str]] = []
    if max_width == 2:
        for i, a in enumerate(ordered):
            for b in ordered[i + 1:]:
                if a in keys or b in keys:
                    # superset of a key is a key: exact, free
                    results.append((f"{a}+{b}", n_rows))
                else:
                    rem_pairs.append((a, b))
    if rem_pairs:
        pairs_nd = _distinct_counts([
            F.struct(
                F.lit(i).alias("gid"),
                _digest([a, b]).alias("k"),
            )
            for i, (a, b) in enumerate(rem_pairs)
        ])
        results += [
            (f"{a}+{b}", pairs_nd.get(i, 0))
            for i, (a, b) in enumerate(rem_pairs)
        ]

    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        local_df,
    )

    melted = local_df(
        spark,
        [(cand, int(n_rows), int(nd)) for cand, nd in results],
        "candidate string, n_rows long, n_distinct long",
    )
    return melted.select(
        "candidate", "n_rows", "n_distinct",
        F.when(F.col("n_rows") == 0, F.lit(0))
        .otherwise(F.expr("n_distinct * 1000000L div n_rows"))
        .cast("long").alias("uniqueness_ppm"),
        (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
    )


def golden_records(
    df: DataFrame,
    cluster_col: str,
    fields: list[str],
) -> DataFrame:
    """Survivorship merge — the last step of the linkage arc (block →
    score → cluster → MERGE): one canonical "golden" record per linkage
    cluster, each field resolved INDEPENDENTLY to its modal value within
    the cluster (count desc, value asc tiebreak — deterministic, and the
    asc tiebreak makes the merge reproducible across runs, the MDM
    survivorship contract).

    Output: ``cluster_col``, ``n_members``, and one column per requested
    field carrying the surviving value. Per-field cost: one
    (cluster, value) groupBy + a cluster-partitioned window (mode
    selection runs inside each cluster's partition — clusters are
    small by construction, so no skewed window) + one cluster-keyed
    join back; the loop is schema-bounded, never data-bounded. Joins
    between cluster-cardinality relations are shuffle_hash (a cluster
    relation is corpus-sized at 100 TB — no broadcast)."""
    if not fields:
        raise ValueError("at least one field required")
    out = df.groupBy(F.col(cluster_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    for field in fields:
        w = Window.partitionBy(cluster_col).orderBy(
            F.desc("__cnt"), F.asc(field)
        )
        modal = (
            df.groupBy(F.col(cluster_col), F.col(field))
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(cluster_col, field)
        )
        out = out.join(modal.hint("shuffle_hash"), cluster_col)
    return out


def mutual_best_match(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "link_score",
) -> DataFrame:
    """Reciprocal-best-match refinement of a scored candidate pair
    relation — the high-precision ER filter: keep a pair only when
    each side is the OTHER's single best-scoring partner (score desc,
    partner-id asc tiebreak — deterministic). A record engaged to a
    better partner elsewhere drops out, which is what kills the
    transitive mega-cluster chains a plain threshold lets through.

    Shape: symmetrize the pair relation (each undirected pair becomes
    two directed rows), one node-partitioned window picks every node's
    best partner (rank<=1 compiles to the same WindowGroupLimit
    contract as the sketch top-ks — map tasks forward one row per
    node), then the mutual check is a self-join of the BEST relation
    on the reversed pair (best-cardinality, shuffle_hash). Output:
    (id_a < id_b, score)."""
    directed = pairs.select(
        F.col(id_a).alias("x"), F.col(id_b).alias("y"),
        F.col(score_col).alias("s"),
    ).unionByName(
        pairs.select(
            F.col(id_b).alias("x"), F.col(id_a).alias("y"),
            F.col(score_col).alias("s"),
        )
    )
    w = Window.partitionBy("x").orderBy(F.desc("s"), F.asc("y"))
    best = (
        directed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("x", "y", "s")
    )
    rev = best.select(
        F.col("y").alias("x"), F.col("x").alias("y")
    )
    return (
        best.join(rev.hint("shuffle_hash"), ["x", "y"], "left_semi")
        .where(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias(id_a), F.col("y").alias(id_b),
            F.col("s").alias(score_col),
        )
    )


def blocking_quality(
    cand_pairs: DataFrame, true_pairs: DataFrame, n_records: int,
    a_col: str = "id_a", b_col: str = "id_b", scale: int = 10**6,
) -> DataFrame:
    """Blocking-quality audit — the two standard record-linkage
    blocking metrics, computed BEFORE trusting a blocker in
    production:

    - reduction ratio  RR = 1 - |candidates| / C(n,2)   (how much of
      the quadratic the blocker pruned), and
    - pair completeness PC = |candidates ∩ true| / |true|  (how many
      real matches survived the pruning — blocking RECALL).

    A good blocker has both near 1; the audit makes the trade
    explicit. Both pair relations are canonicalized (a < b, distinct)
    before comparison, so the caller's orientation conventions don't
    matter; the intersection is one left_semi join on the pair key.
    Exact fixed point: RR_fp = scale - scale*cand div possible,
    PC_fp = scale*caught div true (NULL when there are no true pairs).

    Returns one row: (n_records, n_possible, n_candidates, n_true,
    n_caught, reduction_ratio_fp, pair_completeness_fp).
    """
    cand = undirected_edges(cand_pairs, a_col, b_col)
    true = undirected_edges(true_pairs, a_col, b_col)
    caught = true.join(cand.hint("shuffle_hash"), ["a", "b"], "left_semi")
    counts = (
        cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .crossJoin(F.broadcast(
            true.agg(F.count(F.lit(1)).cast("long").alias("n_true"))))
        .crossJoin(F.broadcast(
            caught.agg(F.count(F.lit(1)).cast("long").alias("n_caught"))))
    )
    n = int(n_records)
    possible = n * (n - 1) // 2
    return counts.select(
        F.lit(n).cast("long").alias("n_records"),
        F.lit(possible).cast("long").alias("n_possible"),
        "n_candidates", "n_true", "n_caught",
        (F.lit(int(scale))
         - F.expr(
             f"CAST(CAST(n_candidates AS DECIMAL(38,0)) * {int(scale)}"
             f" AS DECIMAL(38,0)) div {possible}"
         )).cast("long").alias("reduction_ratio_fp"),
        F.when(
            F.col("n_true") > 0,
            F.expr(
                f"CAST(CAST(n_caught AS DECIMAL(38,0)) * {int(scale)}"
                " AS DECIMAL(38,0)) div n_true"
            ),
        ).cast("long").alias("pair_completeness_fp"),
    )
