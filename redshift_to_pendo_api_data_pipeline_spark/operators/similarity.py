"""Similarity search over embedding columns (array<float>).

Two tiers (BASELINE.json north-star surface):

- brute-force cosine top-k — the exact baseline; dot products are pure
  JVM array expressions (zip_with/aggregate), ranking is a distributed
  top-k (TakeOrderedAndProject), so the only cost is one scan.
- hyperplane-LSH bucketed ANN — the 100 TB path: sign-of-projection bit
  signatures computed per row, candidates restricted to the query's bucket
  (and its 1-bit-flip neighbors for recall), exact re-rank inside the
  candidate set. Probing keys are a broadcast-sized list, so the scan
  prunes to matching buckets instead of cross-joining.

Hyperplanes are generated from a seeded RNG on the driver and inlined as
literals — deterministic, no state to ship.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
    local_df as _local_df,
)
from redshift_to_pendo_api_data_pipeline_spark.staging import (
    fs_delete,
    fs_exists,
    fs_list_files,
    fs_touch,
    reusable,
    stage,
    stage_parquet,
)


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(x):
    return F.sqrt(F.aggregate(x, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine_to_query(vec_col, query: list[float]):
    """Cosine similarity of each row's vector to a constant query vector,
    as a single JVM expression (no UDF, no shuffle)."""
    q = F.array(*[F.lit(float(v)) for v in query])
    return _dot(vec_col, q) / (_norm(vec_col) * _norm(q))


def brute_force_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine. orderBy+limit compiles to a distributed
    top-k; ties broken by id for determinism."""
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_to_query(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplane_signature(vec_col, hyperplanes: list[list[float]]):
    """Sign-of-dot-product bit signature: bit_i = 1 if v·h_i > 0. Returns
    a long column (n_planes <= 63)."""
    bits = [
        F.when(_dot(vec_col, F.array(*[F.lit(float(x)) for x in h])) > 0, F.lit(1 << i))
        .otherwise(F.lit(0))
        for i, h in enumerate(hyperplanes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def make_hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def lsh_candidates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Candidate set for multi-table hyperplane LSH: a row is a candidate
    if it matches the query's bucket in ANY table (multiprobe: or any
    1-bit flip of it). Deterministic — seeded hyperplanes, fixed BLAS —
    so the set can be STAGED and re-ranked independently by an oracle.

    Scale path: the per-table bucket columns are computed in one scan
    (a single BLAS matmul per Arrow batch); at 100 TB you'd persist them
    once (bucketed parquet / Z-order) and each probe becomes a pruned
    scan. Candidate filtering is an OR of `bucket_t IN (probes_t)`
    literals — broadcast-free, shuffle-free.

    Recall/pruning trade-off is (n_planes, n_tables, multiprobe):
    P(candidate) = 1-(1-p^b)^L with p = 1-θ/π. Near-duplicate queries
    (θ small) are recovered with high probability; for uniformly random
    data no ANN scheme prunes without recall loss.
    """
    # one (dim, n_tables*n_planes) plane matrix; per-row signatures for all
    # tables come from a single BLAS matmul inside an Arrow-batched pandas
    # UDF (32 interpreted per-row array folds -> one vectorized product)
    all_planes = []
    probe_sets: list[list[int]] = []
    for t in range(n_tables):
        planes = make_hyperplanes(len(query), n_planes, seed + 1000 * t)
        all_planes.extend(planes)
        qsig = 0
        for i, h in enumerate(planes):
            if sum(a * b for a, b in zip(query, h)) > 0:
                qsig |= 1 << i
        probe_sets.append(
            [qsig] + ([qsig ^ (1 << i) for i in range(n_planes)] if multiprobe else [])
        )
    plane_mat = np.array(all_planes, dtype=np.float64).T  # (dim, T*P)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def signatures(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.array([list(v) for v in vecs], dtype=np.float64)
        bits = (m @ plane_mat) > 0  # (rows, T*P)
        sigs = [
            bits[:, t * n_planes : (t + 1) * n_planes] @ weights
            for t in range(n_tables)
        ]
        stacked = np.stack(sigs, axis=1)  # (rows, T)
        return pd.Series(list(stacked))

    sigged = df.select(F.col(id_col), F.col(vec_col), signatures(F.col(vec_col)).alias("__sigs"))
    cond = None
    for t, probes in enumerate(probe_sets):
        c = F.element_at("__sigs", t + 1).isin(probes)
        cond = c if cond is None else (cond | c)
    return sigged.where(cond).select(id_col, vec_col)


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH: `lsh_candidates` prunes,
    exact cosine re-rank runs only on the candidate set (the only
    distributed op afterwards is a top-k)."""
    cands = lsh_candidates(
        df, vec_col, id_col, query,
        n_planes=n_planes, n_tables=n_tables, seed=seed, multiprobe=multiprobe,
    )
    return brute_force_topk(cands, vec_col, id_col, query, k)


def label_centroids(df: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """Per-label embedding centroid as (label, dim, c) rows — pure JVM:
    posexplode + avg, two map-side-combined aggregations, no Python.
    The row-per-dimension shape keeps the result oracle-comparable
    (element-wise array equality across engines is repr-fragile)."""
    return (
        df.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .groupBy(label_col, "dim")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )


def embedding_moments_fp(
    df: DataFrame, vec_col: str, scale: int = 10**6
) -> DataFrame:
    """EXACT second-moment matrix of an embedding column (round 7) — the
    distributed statistic behind whitening, PCA, and OPQ rotation
    training: for every dimension pair i <= j, (n, sum_i, sum_j,
    sum_ij) as fixed-point BIGINTs, from which covariance is
    cov_ij = (n·sum_ij - sum_i·sum_j) / (n²·scale²) driver-side (the
    dim x dim eigen-decomposition is a numpy sidecar, like the k-means
    quantizer training — driver state is dim²-bounded by construction).

    Exactness is the design point: vectors quantize to `scale`
    fixed-point ONCE, then every sum is integer — float summation is
    partition-ORDER-dependent (fp addition doesn't associate), so a
    double-sum matrix can never hash-check across engines or even
    across two runs with different partitioning; the integer form is
    bit-stable everywhere. Bound: |v|<=1-ish embeddings at scale=1e6
    give per-term ~1e12; 10^6 vectors stay inside BIGINT, beyond that
    lower `scale` or lift to DECIMAL(38,0).

    Plan: a declared Arrow/BLAS edge (the gram-matrix pattern shared
    with embedding_neardup): each Arrow batch fixed-points its vectors
    and computes ONE int64 matmul mᵀm + column sums — numpy integer
    matmul is exact, so the partials are the same integers the pure-JVM
    pair-explosion form produces (pinned by the oracle hash and the
    repartitioning test) at ~15x less cost (the JVM form allocates
    dim²/2 structs per vector; measured 6.3 s → 0.4 s warm at sf0.1,
    dim=64). Each batch emits only dim²/2 partial rows; the single
    groupBy((i,j)) shuffle carries dim²/2 rows per task."""

    def _partials(batches):
        for pdf in batches:
            m = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            if m.size == 0:
                continue
            # round-half-away-from-zero, matching SQL round() exactly
            # (np.rint rounds half-to-even)
            m_fp = (np.sign(m) * np.floor(np.abs(m) * scale + 0.5)).astype(
                np.int64
            )
            n, d = m_fp.shape
            gram = m_fp.T @ m_fp
            s = m_fp.sum(axis=0)
            iu = np.triu_indices(d)
            yield pd.DataFrame({
                "i": iu[0].astype("int32"),
                "j": iu[1].astype("int32"),
                "pn": np.full(len(iu[0]), n, dtype=np.int64),
                "psum_i": s[iu[0]],
                "psum_j": s[iu[1]],
                "psum_ij": gram[iu],
            })

    part = df.select(vec_col).mapInPandas(
        _partials,
        schema="i int, j int, pn long, psum_i long, psum_j long, psum_ij long",
    )
    return part.groupBy("i", "j").agg(
        F.sum("pn").alias("n"),
        F.sum("psum_i").alias("sum_i"),
        F.sum("psum_j").alias("sum_j"),
        F.sum("psum_ij").alias("sum_ij"),
    )


def covariance_from_moments(rows, dim: int, scale: int = 10**6) -> np.ndarray:
    """Driver-side sidecar: the dim x dim covariance matrix from the
    collected `embedding_moments_fp` rows (dim²-bounded by construction,
    like the k-means/PQ codebook sidecars):
    cov_ij = (n·sum_ij - sum_i·sum_j) / (n² · scale²). Feed to
    numpy.linalg.eigh for whitening/PCA/OPQ rotations."""
    cov = np.zeros((dim, dim), dtype=np.float64)
    for r in rows:
        i, j = int(r["i"]), int(r["j"])
        n = int(r["n"])
        c = (n * int(r["sum_ij"]) - int(r["sum_i"]) * int(r["sum_j"])) / (
            n * n * float(scale) ** 2
        )
        cov[i, j] = cov[j, i] = c
    return cov


def vector_mean_udaf():
    """GROUPED_AGG pandas UDAF: element-wise mean of an array column per
    group — the UDAF flavor of the UDF surface (SURVEY.md §2.10). One
    numpy mean per group, Arrow-batched. Equivalent to label_centroids
    (asserted in tests); use this form when the per-group reduction isn't
    expressible as built-in aggregates."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def vec_mean(vecs: pd.Series) -> list:
        m = np.array([list(v) for v in vecs], dtype=np.float64)
        return [float(x) for x in m.mean(axis=0)]

    return vec_mean


# ------------------------------------------------------------------- IVF

def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_list: int = 16,
    n_iter: int = 3,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means centroids, trained distributed.

    Deterministic by construction (no RNG): seeds are the vectors of the
    `n_list` rows with the smallest xxhash64(id) — a uniform hash-sample
    that any re-run reproduces. Each Lloyd iteration is one pass:
    mapInPandas computes per-partition (cluster -> sum, count) partial
    aggregates with a single BLAS argmax per batch, the partials merge
    in a DISTRIBUTED posexplode + partial-aggregated sum (map-side
    combine; shuffle carries n_list x dim scalars per partition), and
    the driver fetches exactly n_list merged rows — independent of
    partition count, so 10^5-partition inputs cost the driver the same
    as 10."""
    seed_rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_list)
        .collect()
    )
    centroids = np.array([list(r[vec_col]) for r in seed_rows], dtype=np.float64)
    spark = df.sparkSession

    for _ in range(n_iter):
        b_cent = spark.sparkContext.broadcast(centroids)

        def _partials(pdfs, _vc=vec_col):
            cent = b_cent.value
            sums = np.zeros_like(cent)
            counts = np.zeros(len(cent), dtype=np.int64)
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                m = np.array([list(v) for v in pdf[_vc]], dtype=np.float64)
                assign = np.argmin(
                    ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), axis=1
                )
                np.add.at(sums, assign, m)
                np.add.at(counts, assign, 1)
            yield pd.DataFrame({
                "cluster": np.arange(len(cent)),
                "vsum": list(sums),
                "cnt": counts,
            })

        parts_df = df.select(vec_col).mapInPandas(
            _partials, schema="cluster int, vsum array<double>, cnt long"
        )
        # ONE aggregation chain over the partials (the mapInPandas
        # assignment pass executes exactly once per iteration): cnt rides
        # the posexplode — per (cluster,pos) it sums to the same per-
        # cluster total at every pos, so max() at the regroup recovers it
        # without a second scan or a join.
        merged = (
            parts_df.select(
                "cluster", "cnt", F.posexplode("vsum").alias("pos", "v")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.sum("cnt").alias("c"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda x: x["s"],
                ).alias("vsum"),
                F.max("c").alias("cnt"),
            )
            .collect()
        )
        sums = np.zeros_like(centroids)
        counts = np.zeros(len(centroids), dtype=np.int64)
        for r in merged:
            sums[r["cluster"]] = np.array(r["vsum"])
            counts[r["cluster"]] = r["cnt"]
        nonempty = counts > 0
        centroids[nonempty] = sums[nonempty] / counts[nonempty, None]
        b_cent.destroy()
    return centroids


def ivf_assign(df: DataFrame, vec_col: str, centroids: np.ndarray) -> DataFrame:
    """Adds a `__cluster` int column: nearest-centroid id per row (one
    BLAS distance matrix per Arrow batch; centroids ride the closure —
    n_list x dim doubles, broadcast-sized by definition)."""
    cent = centroids

    @F.pandas_udf(T.IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = np.array([list(v) for v in vecs], dtype=np.float64)
        d = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return df.withColumn("__cluster", _assign(F.col(vec_col)))


def nearest_lists(centroids: np.ndarray, query: list[float], n_probe: int) -> list[int]:
    """The query's `n_probe` nearest coarse-quantizer lists (stable order
    for determinism)."""
    q = np.array(query, dtype=np.float64)
    order = np.argsort(((centroids - q[None, :]) ** 2).sum(axis=1), kind="stable")
    return [int(c) for c in order[:n_probe]]


def ivf_candidates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    n_list: int = 16,
    n_probe: int = 4,
    n_iter: int = 3,
    cent_path: str | None = None,
) -> DataFrame:
    """IVF candidate set: train the coarse quantizer, keep only rows whose
    cluster is among the query's `n_probe` nearest centroids. The probe
    filter is a literal IN list, so Catalyst folds it into the scan of the
    assigned relation. Deterministic (hash-seeded k-means) — stageable.
    ``cent_path`` routes training through the reuse-aware staged sidecar
    (staged_ivf_centroids) so probe reruns skip the n_iter passes."""
    if cent_path is not None:
        centroids = staged_ivf_centroids(df, vec_col, id_col, cent_path,
                                         n_list=n_list, n_iter=n_iter)
    else:
        centroids = train_ivf_centroids(df, vec_col, id_col, n_list=n_list,
                                        n_iter=n_iter)
    probes = nearest_lists(centroids, query, n_probe)
    assigned = ivf_assign(df, vec_col, centroids)
    return assigned.where(F.col("__cluster").isin(probes)).select(id_col, vec_col)


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 4,
    n_iter: int = 3,
    cent_path: str | None = None,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization: train/load
    k-means centroids, keep only rows whose cluster is among the query's
    `n_probe` nearest centroids, exact cosine re-rank inside those lists.

    Scale path: at 100 TB the assignment is computed once and the table is
    written partitioned by `__cluster` (build_ivf_index below), so each
    query prunes to n_probe/n_list of the data at the SCAN — partition
    pruning, no shuffle, no full pass. Here train+assign+probe run in one
    job at small sf."""
    cands = ivf_candidates(
        df, vec_col, id_col, query, n_list=n_list, n_probe=n_probe,
        n_iter=n_iter, cent_path=cent_path,
    )
    return brute_force_topk(cands, vec_col, id_col, query, k)


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    index_path: str,
    n_list: int = 16,
    n_iter: int = 3,
) -> np.ndarray:
    """Materialize the IVF index on the lake: train the coarse quantizer,
    assign every row, and write the table `partitionBy("__cluster")` so a
    probe is a PARTITION-PRUNED read (n_probe/n_list of the files, decided
    by the catalog before any task launches). Returns the centroids — the
    only driver-side state a probe needs (n_list x dim doubles).

    This is the 100 TB serving shape: build once per corpus version,
    probe many times; each probe touches n_probe directories, no shuffle,
    no full scan. The centroids are staged NEXT TO the index
    (`<index_path>__centroids`) so a reuse run (SPARK_GRAFT_STAGE_REUSE=1,
    index already built) loads them back instead of re-training — probes
    against a built index pay zero training cost."""
    spark = df.sparkSession
    cent_path = f"{index_path}__centroids"
    if reusable(spark, index_path, cent_path):
        cents = load_ivf_centroids(spark, cent_path)
        if cents.shape[0] == n_list:
            return cents
        # staged geometry differs from the request (n_list changed
        # between runs): a silent stale load would prune the wrong
        # partitions — drop the stale artifact and rebuild
        fs_delete(spark, index_path)
        fs_delete(spark, cent_path)

    centroids = train_ivf_centroids(df, vec_col, id_col, n_list=n_list, n_iter=n_iter)
    assigned = ivf_assign(df, vec_col, centroids)
    stage_parquet(
        assigned.select(F.col(id_col), F.col(vec_col), F.col("__cluster")),
        index_path,
        partition_by="__cluster",
    )
    stage_parquet(
        _local_df(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cluster int, centroid array<double>",
        ),
        cent_path,
    )
    return centroids


def load_ivf_centroids(spark, cent_path: str) -> np.ndarray:
    rows = spark.read.parquet(cent_path).orderBy("cluster").collect()
    return np.array([list(r["centroid"]) for r in rows], dtype=np.float64)


def ivf_index_append(
    new_df: DataFrame,
    vec_col: str,
    id_col: str,
    index_path: str,
    centroids: np.ndarray,
    batch_id: str | None = None,
) -> bool:
    """Incremental index maintenance — the missing half of the
    build-once/probe-many serving story: new vectors are assigned to the
    EXISTING coarse quantizer (one Arrow-batched BLAS argmax pass) and
    appended into their list partitions. No retrain, no rewrite of
    existing lists; a probe's partition pruning is unchanged because the
    partitioning key set doesn't grow (clusters are fixed by the
    quantizer). Cost: one scan of the NEW batch + one partitioned append.

    The classic IVF drift caveat applies and is the operator contract:
    appended vectors are quantized against the original centroids, so
    recall degrades only if the data distribution shifts away from the
    training corpus — the rebuild trigger is a monitoring decision
    (e.g. mean assign-distance creeping up), at which point
    build_ivf_index rewrites the index under a new path and serving
    flips atomically (the parquet_sink ACTIVATE_VERSION pointer-swap
    pattern). Appends create one small file per touched list per batch —
    compact with layout.compact_small_files per the usual small-files
    discipline.

    Idempotence: pass a stable ``batch_id`` (source offset, CDC LSN,
    micro-batch id). A marker file ``_append_<batch_id>`` is written
    inside the index directory after the append commits; a replay of the
    same batch — job retry, re-run of a serving/bench loop, at-least-once
    streaming source — sees the marker and becomes a no-op instead of
    silently duplicating vectors (which would inflate every downstream
    top-k candidate set). Underscore-prefixed files are invisible to
    parquet readers, so the marker travels with the index through
    copies/renames. Marker existence and write both go through the Hadoop
    FileSystem API, so the guarantee holds on whatever scheme backs
    ``index_path`` (file://, hdfs://, s3a://), not just the driver's
    local disk; the name carries a short hash of the RAW batch id so two
    ids that sanitize to the same string ('b 1' vs 'b_1') stay distinct.
    The residual window (append committed, marker write lost) is the
    standard two-ops-no-transaction gap; on a lake this is closed by
    table-format atomicity (Iceberg/Delta commit), not by the writer.
    Returns True if data was appended, False on a deduped replay.
    """
    import hashlib as _hashlib

    spark = new_df.sparkSession
    marker = None
    if batch_id is not None:
        raw = str(batch_id)
        safe = "".join(c if (c.isalnum() or c in "-._") else "_" for c in raw)
        digest = _hashlib.sha1(raw.encode("utf-8")).hexdigest()[:8]
        marker = f"{index_path}/_append_{safe}_{digest}"
        if fs_exists(spark, marker):
            return False
    assigned = ivf_assign(new_df, vec_col, centroids)
    (
        assigned.select(F.col(id_col), F.col(vec_col), F.col("__cluster"))
        .write.mode("append")
        .partitionBy("__cluster")
        .parquet(index_path)
    )
    if marker is not None:
        fs_touch(spark, marker)
    return True


# ------------------------------------------------------ product quantization
#
# The compression half of the canonical 100 TB ANN design (IVF-PQ): each
# vector is chopped into m_sub subspaces and every subvector is replaced
# by the id of its nearest per-subspace codebook entry — dim x 8 bytes
# becomes m_sub small ints (32-64x smaller), so the scan side of an ANN
# query reads codes, not vectors. Scoring is ADC (asymmetric distance
# computation): the QUERY stays exact, and dot(query, vector) is
# approximated by sum_s dot(query_s, codebook[s][code_s]) — a per-query
# lookup table of m_sub x k_codes precomputed scores, so scoring a vector
# is m_sub integer table lookups, no float math per row.


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m_sub: int = 4,
    k_codes: int = 16,
    n_iter: int = 3,
) -> np.ndarray:
    """Per-subspace k-means codebooks, shape (m_sub, k_codes, dim/m_sub).

    Reuses the deterministic distributed Lloyd pass of
    `train_ivf_centroids` (hash-seeded, combiner-side partial sums —
    driver sees k_codes x sub_dim doubles per pass) once per subspace:
    m_sub x n_iter corpus passes, paid once per corpus version like the
    IVF build itself. The subspace slice is a JVM `slice` projection, so
    each pass scans only the vector column."""
    first = df.select(vec_col).first()
    dim = len(first[0])
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub_dim = dim // m_sub
    books = []
    for s in range(m_sub):
        sliced = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias("__sub"),
        )
        books.append(
            train_ivf_centroids(sliced, "__sub", id_col, n_list=k_codes, n_iter=n_iter)
        )
    return np.stack(books)


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: np.ndarray,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, codes array<int> [, extra_cols...]): nearest codebook entry
    per subspace — one BLAS distance matrix per (subspace, Arrow batch);
    codebooks ride the closure (m_sub x k_codes x sub_dim doubles,
    broadcast-sized). This is the staged/maintained artifact: at 100 TB
    the codes relation is what ADC scans, ~dim*8/m_sub times smaller than
    the vectors. ``extra_cols`` (e.g. the coarse-quantizer ``__cluster``
    for an IVF-PQ layout) pass through the same single projection."""
    books = codebooks
    m_sub, _, sub_dim = books.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.array([list(v) for v in vecs], dtype=np.float64).reshape(
            len(vecs), m_sub, sub_dim
        )
        codes = np.empty((len(vecs), m_sub), dtype=np.int32)
        for s in range(m_sub):
            d = ((m[:, s, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d, axis=1)
        return pd.Series([list(row) for row in codes])

    cols = [F.col(id_col), _enc(F.col(vec_col)).alias("codes")]
    cols += [F.col(c) for c in (extra_cols or [])]
    return df.select(*cols)


def pq_adc_lut(
    codebooks: np.ndarray, query: list[float], scale: int = 10**6
) -> list[tuple[int, int, int]]:
    """Per-query ADC lookup table: (sub, code, score_fp) where score_fp
    is the FIXED-POINT dot(query_sub, codebook[sub][code]) — integer
    surfaces so ADC sums are exact, associative, and hash-identical
    across engines (the repo-wide cross-engine parity rule). m_sub x
    k_codes rows — driver-computed, broadcast-sized by construction."""
    m_sub, k_codes, sub_dim = codebooks.shape
    q = np.asarray(query, dtype=np.float64).reshape(m_sub, sub_dim)
    rows = []
    for s in range(m_sub):
        dots = codebooks[s] @ q[s]
        for c in range(k_codes):
            rows.append((s, c, int(round(dots[c] * scale))))
    return rows


def pq_adc_topk(
    codes_df: DataFrame, lut_df: DataFrame, id_col: str, k: int = 20
) -> DataFrame:
    """ADC top-k over a codes relation: posexplode codes to (id, sub,
    code), broadcast-join the m_sub x k_codes LUT, sum score_fp per id
    (map-side partial — exploded rows of one vector are co-located, so
    the exchange carries one row per vector), TakeOrderedAndProject for
    the top-k. Output (id, adc_score) is all-integer: hash-exact against
    a SQL twin over the same staged codes+LUT."""
    expl = codes_df.select(
        F.col(id_col), F.posexplode("codes").alias("sub", "code")
    )
    return (
        expl.join(F.broadcast(lut_df), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("score_fp").alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.col(id_col))
        .limit(k)
    )


def pq_adc_topk_inline(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    query: list[float],
    id_col: str,
    k: int = 20,
    scale: int = 10**6,
) -> DataFrame:
    """The zero-shuffle, zero-join ADC form: the LUT is inlined as a
    literal nested array (m_sub x k_codes longs, a few KB of plan), the
    score is a JVM transform+aggregate fold over the codes column, and
    the top-k is TakeOrderedAndProject — ONE narrow scan of the codes
    relation, no Exchange anywhere (plan-asserted in tests). Identical
    rows to `pq_adc_topk` by construction (same integer LUT)."""
    rows = pq_adc_lut(codebooks, query, scale)
    m_sub, k_codes, _ = codebooks.shape
    by_sub = [[0] * k_codes for _ in range(m_sub)]
    for s, c, v in rows:
        by_sub[s][c] = v
    lut_lit = F.array(
        *[F.array(*[F.lit(v).cast("long") for v in row]) for row in by_sub]
    )
    per_sub = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(
            F.element_at(lut_lit, (i + F.lit(1)).cast("int")),
            (c + F.lit(1)).cast("int"),
        ),
    )
    score = F.aggregate(per_sub, F.lit(0).cast("long"), lambda acc, v: acc + v)
    return (
        codes_df.select(F.col(id_col), score.alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.col(id_col))
        .limit(k)
    )


def staged_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    n_list: int = 16,
    n_iter: int = 3,
) -> np.ndarray:
    """Reuse-aware coarse-quantizer sidecar: under
    ``SPARK_GRAFT_STAGE_REUSE=1`` an existing staged centroid table
    short-circuits the n_iter training passes — the build-once/
    probe-many discipline for queries that need the quantizer but not a
    full index (build_ivf_index already does this for index+centroids
    together). Training is deterministic, so a staged copy is
    exact, not an approximation."""
    spark = df.sparkSession
    if reusable(spark, path):
        staged = load_ivf_centroids(spark, path)
        if staged.shape[0] == n_list:
            return staged
        fs_delete(spark, path)  # geometry changed: stale sidecar, rebuild
    cents = train_ivf_centroids(df, vec_col, id_col, n_list=n_list, n_iter=n_iter)
    stage_parquet(
        _local_df(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cluster int, centroid array<double>",
        ),
        path,
    )
    return cents


def staged_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    m_sub: int = 4,
    k_codes: int = 16,
    n_iter: int = 3,
) -> np.ndarray:
    """Reuse-aware PQ codebook sidecar (same contract as
    staged_ivf_centroids): m_sub x n_iter training passes run once per
    corpus version; a probe/bench rerun under reuse loads the staged
    (sub, code, centroid) table instead."""
    spark = df.sparkSession
    if reusable(spark, path):
        rows = spark.read.parquet(path).orderBy("sub", "code").collect()
        m = max(r["sub"] for r in rows) + 1
        k = max(r["code"] for r in rows) + 1
        if (m, k) == (m_sub, k_codes):
            sub_dim = len(rows[0]["centroid"])
            books = np.zeros((m, k, sub_dim), dtype=np.float64)
            for r in rows:
                books[r["sub"], r["code"]] = np.array(list(r["centroid"]))
            return books
        # staged geometry != requested (m_sub/k_codes changed between
        # runs): codes encoded against it would silently decode wrong —
        # drop and retrain at the requested shape
        fs_delete(spark, path)
    books = train_pq_codebooks(df, vec_col, id_col, m_sub=m_sub,
                               k_codes=k_codes, n_iter=n_iter)
    stage_parquet(
        _local_df(
            spark,
            [
                (s, c, [float(x) for x in books[s, c]])
                for s in range(books.shape[0])
                for c in range(books.shape[1])
            ],
            "sub int, code int, centroid array<double>",
        ),
        path,
    )
    return books


def ivf_residuals(assigned: DataFrame, vec_col: str, centroids: np.ndarray):
    """Column expression: the residual v - centroid[__cluster] — what
    canonical IVF-PQ quantizes instead of the raw vector (residuals are
    centered near zero, so the same codebook budget spends its entries
    on the part of the vector the coarse quantizer didn't explain).
    Pure JVM: centroids inline as a literal nested array (n_list x dim
    doubles), the subtraction is one zip_with — no Python, no join."""
    cent_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in row]) for row in centroids
    ])
    return F.zip_with(
        F.col(vec_col),
        F.element_at(cent_lit, (F.col("__cluster") + F.lit(1)).cast("int")),
        lambda x, c: x - c,
    )


def pq_cluster_offsets(
    centroids: np.ndarray, query: list[float], scale: int = 10**6
) -> list[tuple[int, int]]:
    """Per-list ADC offset for residual encoding: with v = centroid_c +
    r, dot(q, v) = dot(q, centroid_c) + dot(q, r) — the first term is
    one FIXED-POINT scalar per list (n_list rows, broadcast-sized), the
    second is the residual LUT sum. Same integer-exactness contract as
    pq_adc_lut."""
    q = np.asarray(query, dtype=np.float64)
    return [
        (int(c), int(round(float(centroids[c] @ q) * scale)))
        for c in range(len(centroids))
    ]


def ivfpq_adc_topk(
    codes_df: DataFrame,
    lut_df: DataFrame,
    offsets_df: DataFrame,
    id_col: str,
    k: int = 20,
) -> DataFrame:
    """Residual-ADC top-k: codes rows carry (__cluster, codes); score =
    offset_fp[__cluster] + sum_s LUT[s][code_s], all integer. Both side
    tables broadcast (m_sub x k_codes and n_list rows); the only
    exchange is the map-side-combined per-vector sum."""
    expl = codes_df.select(
        F.col(id_col), F.col("__cluster"),
        F.posexplode("codes").alias("sub", "code"),
    )
    return (
        expl.join(F.broadcast(lut_df), ["sub", "code"])
        .groupBy(id_col, "__cluster")
        .agg(F.sum("score_fp").alias("__r"))
        .join(F.broadcast(offsets_df),
              F.col("__cluster") == F.col("cluster"))
        .select(
            F.col(id_col),
            (F.col("__r") + F.col("offset_fp")).alias("adc_score"),
        )
        .orderBy(F.desc("adc_score"), F.col(id_col))
        .limit(k)
    )


def ivf_index_compact(
    spark,
    index_path: str,
    out_path: str,
    max_records_per_file: int | None = None,
) -> dict:
    """Compact an append-heavy IVF index WITHOUT losing its layout: every
    streaming/batch append (`ivf_index_append`, `streaming_index_append`)
    adds one small file per touched list per batch, and small files
    destroy probe economics (footer overhead + task-per-file scheduling)
    exactly like any streaming sink. The generic
    `layout.compact_small_files` is wrong for an index because its flat
    rewrite drops the partitionBy(__cluster) directory layout the probe's
    partition pruning lives on.

    One data pass: rows hash-route on __cluster so each list lands whole
    in one task, the partitioned write emits ONE file per list (the
    canonical IVF layout; pass max_records_per_file to let Spark split a
    mega-list). The `_append_*` idempotence markers are carried to the
    new path through the Hadoop FS, so after the serving pointer swaps
    (ACTIVATE_VERSION discipline — compaction writes a NEW path, never
    in-place), an at-least-once replay of an already-applied batch is
    still a no-op against the compacted index. Returns
    {files_in, files_out, rows} for the maintenance log."""
    names = [f.rsplit("/", 1)[-1] for f, _, _ in fs_list_files(spark, index_path)]
    df = spark.read.parquet(index_path)
    n_clusters = df.select("__cluster").distinct().count()
    w = df.repartition(n_clusters, "__cluster").write.mode("overwrite")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy("__cluster").parquet(out_path)

    # carry replay-dedup markers: underscore files are invisible to
    # readers but load-bearing for ivf_index_append idempotence
    for name in names:
        if name.startswith("_append_"):
            fs_touch(spark, f"{out_path}/{name}")

    return {
        "files_in": sum(n.endswith(".parquet") for n in names),
        "files_out": sum(
            f.endswith(".parquet") for f, _, _ in fs_list_files(spark, out_path)
        ),
        "rows": int(spark.read.parquet(out_path).count()),
    }


def ivf_topk_persisted(
    spark,
    index_path: str,
    centroids: np.ndarray,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Serve an ANN top-k from a persisted IVF index: read only the
    query's `n_probe` nearest list partitions (PartitionFilters in the
    scan — asserted in tests), exact cosine re-rank inside them."""
    probes = nearest_lists(centroids, query, n_probe)
    idx = spark.read.parquet(index_path)
    cands = idx.where(F.col("__cluster").isin(probes)).select(id_col, vec_col)
    return brute_force_topk(cands, vec_col, id_col, query, k)


# ----------------------------------------------------------- SemDeDup

def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    stage_path: str,
    n_list: int = 16,
    threshold: float = 0.45,
    n_iter: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space with the
    deterministic IVF coarse quantizer, then drop any vector that has a
    LOWER-id neighbor in the same cluster with cosine >= threshold.
    Returns (id, cluster, kept) for every input row.

    The cluster assignment bounds the quadratic: candidate pairs are
    within-cluster only, so the self-join costs sum(|cluster|^2) instead
    of N^2 — the entire point of the SemDeDup design. At 100 TB, n_list
    scales ~sqrt(N) to keep per-cluster populations flat, the staged
    assignment is parquet partitioned work already paid for by the IVF
    index build, and a pathological mega-cluster is visible in the
    staged table's partition sizes BEFORE the join runs (split it by
    raising n_list; the k-means is deterministic, so re-assignment is
    reproducible).

    "Lower-id neighbor" replaces the paper's arbitrary keep-one choice
    with a total order, making the output an exact function of the
    staged assignment — the DuckDB oracle re-derives kept/dropped from
    the staged parquet independently (cosine rounded to 6dp on both
    engines, same margin discipline as embedding_neardup)."""
    spark = df.sparkSession
    # One Lloyd iteration by default: the quantizer only PARTITIONS the
    # space — SemDeDup's dedup decisions are exact within whatever
    # partition it lands on, so converged centroids buy balance, not
    # correctness. Each extra iteration is a full-data BLAS pass.
    def _assign() -> DataFrame:
        cents = train_ivf_centroids(df, vec_col, id_col, n_list=n_list,
                                    n_iter=n_iter)
        return ivf_assign(df, vec_col, cents).select(
            F.col(id_col), F.col(vec_col), F.col("__cluster").alias("cluster")
        )

    st = stage(spark, stage_path, _assign)

    # Within-cluster scoring is one BLAS gram matrix per cluster group
    # (applyInPandas), NOT a row-pair equi-join: an interpreted zip_with
    # cosine per candidate pair costs ~|C|^2 * dim higher-order-function
    # evaluations per cluster (measured ~3x the rest of the pipeline
    # combined); the matmul form is the same arithmetic embedding_neardup
    # already hash-matches against DuckDB (row-normalize, m @ m.T,
    # round 6dp).
    def _dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({id_col: np.array([], dtype=np.int64)})
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.array(
            [list(v) for v in pdf[vec_col].to_numpy()[order]],
            dtype=np.float64,
        )
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = np.round(m @ m.T, 6)
        has_lower = np.tril(sims >= threshold, k=-1).any(axis=1)
        return pd.DataFrame({id_col: ids[has_lower]})

    dropped = (
        st.groupBy("cluster")
        .applyInPandas(_dropped, schema=f"{id_col} long")
        .withColumn("__dropped", F.lit(True))
    )
    return (
        st.select(id_col, "cluster")
        .join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


def _within_bucket_pairs(
    assigned: DataFrame, threshold: float, keep_table: bool = False
) -> DataFrame:
    """Exact-cosine verify WITHIN (tbl, bucket) groups as one BLAS gram
    matrix per group (``m @ m.T`` over row-normalized float64, round 6dp
    — the same arithmetic embedding_neardup hash-matches against DuckDB
    and the same kernel shape semantic_dedup measured ~3x faster than
    interpreted per-pair zip_with folds). Input columns: (tbl, bucket,
    id, v); output (id_a, id_b, cosine) with id_a < id_b, one row per
    in-bucket pair at or above threshold.

    Rounding-mode assumption: ``np.round`` is half-to-even while the
    oracle's DuckDB ``round`` is HALF_UP — they agree unless a cosine
    lands EXACTLY on a 6dp half-boundary, which the float64 dot products
    here essentially never produce (parity is hash-verified every round
    on both this path and embedding_neardup, which uses the identical
    kernel).

    One shuffle on the (tbl, bucket) key, zero joins. Group memory is
    |bucket|² doubles for the gram matrix, so bucket sizing via n_planes
    (~log2(N / target_bucket_rows)) is the memory bound too — a
    mega-bucket is visible in the staged table's partition sizes BEFORE
    this runs, and the fix is raising n_planes, exactly as the
    bucketed_neardup_pairs docstring prescribes."""
    id_f = assigned.schema["id"]
    fields = [
        T.StructField("id_a", id_f.dataType, False),
        T.StructField("id_b", id_f.dataType, False),
        T.StructField("cosine", T.DoubleType(), False),
    ]
    if keep_table:
        # ``keep_table`` (r11): tag each verified pair with the table it
        # came from and skip nothing else — a recall audit can then take
        # single-table (tbl == 0 rows) and multi-table (distinct pair)
        # counts from ONE verification pass instead of running the BLAS
        # verify once per variant.
        fields.append(T.StructField("tbl", T.IntegerType(), False))
    out_schema = T.StructType(fields)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = {"id_a": [], "id_b": [], "cosine": []}
        if keep_table:
            empty["tbl"] = []
        if n < 2:
            return pd.DataFrame(empty)
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.array([list(v) for v in pdf["v"].to_numpy()[order]],
                     dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = np.round(m @ m.T, 6)
        ia, ib = np.triu_indices(n, k=1)
        keep = sims[ia, ib] >= threshold
        out = {
            "id_a": ids[ia[keep]],
            "id_b": ids[ib[keep]],
            "cosine": sims[ia[keep], ib[keep]],
        }
        if keep_table:
            out["tbl"] = np.full(int(keep.sum()), int(pdf["tbl"].iloc[0]),
                                 dtype=np.int32)
        return pd.DataFrame(out)

    return assigned.groupBy("tbl", "bucket").applyInPandas(_pairs, out_schema)


def bucketed_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    stage_path: str,
    threshold: float = 0.45,
    n_planes: int = 6,
    seed: int = 7,
    n_tables: int = 1,
    keep_table: bool = False,
) -> DataFrame:
    """The 100 TB all-pairs near-dup shape the exact operator's docstring
    defers to (dedup.embedding_neardup_pairs: "per-bucket verify stage
    after LSH bucketing"): per-table hyperplane signatures partition the
    corpus into 2^n_planes buckets, and exact cosine runs only WITHIN
    buckets — n_tables · sum(|bucket|^2) flops instead of N^2, one
    (table, bucket)-key shuffle instead of a blocked broadcast.

    Everything is JVM column algebra: the signatures are sign-of-dot
    bits (no Python), the within-bucket self-join is a plain equi-join
    on the (table, bucket) key, the cosine a zip_with/aggregate fold.
    The assignment is STAGED as (id, tbl, bucket) — one row per table,
    built in a single scan via explode — making the result an exact
    function of the staged parquet: the oracle re-derives the
    union-over-tables pairs independently.

    Recall contract: a pair at angle θ shares a bucket in at least one
    of L tables with p = 1 - (1 - (1-θ/π)^n_planes)^L — ``n_tables`` is
    THE recall lever (each table is an independent seeded plane set,
    seed + 1000·t, the lsh_candidates convention); near-duplicates
    (θ→0) are found with probability → 1 while the per-table prune is
    preserved. Precision stays 1 by construction (pairs are exact-
    cosine verified), so recall is the only audited axis — see the
    ``bucketed_neardup_recall`` registry query. Pairs straddling
    buckets in EVERY table are missed by design — that is the prune.
    Multi-table pairs found in several tables are deduped with one
    DISTINCT on the verified pair row (cosine is deterministic per
    pair, so the triple collapses exactly).

    Size n_planes ~ log2(N / target_bucket_rows): the bucket key is the
    shuffle key, so 2^n_planes must comfortably exceed the partition
    count (n_planes=6 here fits the test corpus; a 10^9-vector corpus
    wants ~20 planes -> 10^6 buckets of ~10^3 rows, and AQE's skew-join
    split handles the residual heavy buckets)."""
    first = df.select(F.size(vec_col)).first()
    if first is None or first[0] is None:
        raise ValueError(
            f"bucketed_neardup_pairs: input has no rows with a non-null "
            f"'{vec_col}' vector — cannot infer the embedding dimension"
        )
    dim = first[0]
    sigs = F.array(*[
        hyperplane_signature(
            F.col(vec_col), make_hyperplanes(dim, n_planes, seed + 1000 * t)
        )
        for t in range(n_tables)
    ])
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(sigs).alias("tbl", "bucket"),
    )
    stage_parquet(assigned.select("id", "tbl", "bucket"), stage_path)

    # within-bucket verify = one BLAS gram matrix per (tbl, bucket)
    # group (_within_bucket_pairs): one shuffle on the bucket key, no
    # self-join, no interpreted per-pair fold
    pairs = _within_bucket_pairs(
        assigned.select("tbl", "bucket", "id", "v"), threshold,
        keep_table=keep_table,
    )
    if n_tables > 1 and not keep_table:
        pairs = pairs.distinct()
    return pairs


def label_centroid_similarity(
    df: DataFrame, vec_col: str, label_col: str, scale: int = 10**6
) -> DataFrame:
    """Pairwise cosine similarity between per-label centroid vectors —
    the cluster-separation diagnostic (are my label groups actually
    distinct in embedding space?) read after clustering/labeling and
    before using labels as training strata.

    EXACT until the final sqrt: components quantize to `scale`
    fixed-point once, per-(label, dim) sums are integer (order
    independent), and the centroid denominators CANCEL in cosine
    (centroid_a = s_a/n_a, so cos = Σ s_a·s_b / (√Σs_a² · √Σs_b²) — the
    n's divide out), so no float division happens until the one
    IEEE-deterministic sqrt/divide per label pair. Sums accumulate as
    DECIMAL(38,0) (s_d ~ n·scale; products overflow int64 beyond ~10^5
    vectors/label at scale=1e6).

    Scale shape: one posexplode + groupBy(label, dim) collapses the
    corpus to |labels|·dim rows; the pair join is bounded by
    |labels|²·dim — label cardinality, never corpus cardinality."""
    comp = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .groupBy("label", "dim")
        .agg(
            F.sum(F.round(F.col("x") * scale).cast("long")).alias("s")
        )
    )
    q = comp.groupBy("label").agg(
        F.sum(
            (F.col("s").cast("decimal(38,0)") * F.col("s"))
        ).alias("qq")
    )
    a = comp.select(
        F.col("label").alias("label_a"), "dim", F.col("s").alias("sa")
    )
    b = comp.select(
        F.col("label").alias("label_b"), "dim", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.col("sa").cast("decimal(38,0)") * F.col("sb")
            ).alias("dot")
        )
    )
    qa = q.select(F.col("label").alias("label_a"), F.col("qq").alias("qa"))
    qb = q.select(F.col("label").alias("label_b"), F.col("qq").alias("qb"))
    return (
        dots.join(F.broadcast(qa), "label_a")
        .join(F.broadcast(qb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qa").cast("double"))
                    * F.sqrt(F.col("qb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    max_broadcast_queries: int = 256,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k most-similar corpus vectors with a DIFFERENT label —
    the negatives that actually teach a metric model (easy random
    negatives saturate in a few epochs; cf. dense-retrieval hard-negative
    practice, e.g. DPR/ANCE).

    Exact by construction UNDER THE BATCH BOUND: when the query set has
    at most ``max_broadcast_queries`` rows (a training batch, probed
    with the O(cap) ``within_driver_bound`` guard — r11, previously
    left to caller contract), it broadcasts and each corpus row scores
    against all queries in ONE scan (JVM zip_with/aggregate fold —
    sequential left-to-right sum, so the rounded cosine is reproducible
    in any engine that folds in index order), top-k per query via a
    window PARTITIONED by query id (parallel across queries; rank on
    the rounded value + id so ties are deterministic).

    ABOVE the bound the exact cross product is |Q|x|C| cosines — the
    one registry shape the sf1->sf3 sweep measured superlinear (8.2x
    on 3x data: queries grow WITH the corpus) — so the operator
    auto-routes to the bucketed-LSH candidate path (the
    ``bucketed_neardup_pairs`` family shape): both sides signature
    against the same seeded hyperplane tables in one BLAS matmul per
    Arrow batch, candidates are same-(table, bucket) collisions only
    (sum over buckets of |Qb|x|Cb|, never |Q|x|C|), exact cosine +
    per-query top-k run on candidates. The 256 default is empirical:
    the exact path's higher-order-function fold runs INTERPRETED per
    element, so 500 queries x 20k vectors x 64 dims measured 19 s
    where the banded route scores the same negatives in ~2 s at 3x
    the corpus. ANN semantics by design —
    recall follows 1-(1-p^b)^L like every LSH tier (recall pinned on
    clustered data by test); queries with thin candidate sets may
    return fewer than k rows."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        within_driver_bound,
    )

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(label_col).alias("qlabel"),
        F.col(vec_col).alias("qv"),
    )
    if not within_driver_bound(q, int(max_broadcast_queries)):
        return _hard_negative_topk_bucketed(
            q, corpus, vec_col, id_col, label_col, k,
            n_planes=n_planes, n_tables=n_tables, seed=seed,
        )
    joined = corpus.join(
        F.broadcast(q), F.col(label_col) != F.col("qlabel")
    ).select(
        "qid",
        "qlabel",
        F.col(id_col),
        F.col(label_col),
        F.round(
            _dot(F.col(vec_col), F.col("qv"))
            / (_norm(F.col(vec_col)) * _norm(F.col("qv"))),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _hard_negative_topk_bucketed(
    q: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Corpus-sized-query-set route for :func:`hard_negative_topk`
    (``q`` pre-projected to (qid, qlabel, qv)): multi-table hyperplane
    LSH banding between the QUERY relation and the corpus — the
    asymmetric two-relation shape of ``incremental_neardup``, never a
    |Q|x|C| cross product. One BLAS matmul per Arrow batch computes all
    T signatures per row (the ``lsh_candidates`` pattern); candidates
    are same-(table, bucket) collisions with a different label; exact
    JVM-fold cosine and the per-query top-k window run on candidates
    only. The banded join is width-pinned on its own exchange (the
    signature exchange is byte-small while candidate scoring is
    compute-heavy — the AQE amplification trap)."""
    first = corpus.select(vec_col).first()
    if first is None:  # empty corpus: empty result, schema from inputs
        return (
            corpus.limit(0)
            .crossJoin(q.limit(0))
            .select(
                "qid", "qlabel", F.col(id_col), F.col(label_col),
                F.lit(0.0).alias("cosine"),
            )
        )
    dim = len(first[vec_col])
    all_planes: list[list[float]] = []
    for t in range(n_tables):
        all_planes.extend(make_hyperplanes(dim, n_planes, seed + 1000 * t))
    plane_mat = np.array(all_planes, dtype=np.float64).T  # (dim, T*P)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.array([list(v) for v in vecs], dtype=np.float64)
        bits = (m @ plane_mat) > 0
        stacked = np.stack(
            [
                bits[:, t * n_planes : (t + 1) * n_planes] @ weights
                for t in range(n_tables)
            ],
            axis=1,
        )
        return pd.Series(list(stacked))

    tables = F.explode(
        F.array(*[F.lit(t) for t in range(n_tables)])
    ).alias("__t")
    c_sig = (
        corpus.select(
            F.col(id_col), F.col(label_col), F.col(vec_col),
            sigs(F.col(vec_col)).alias("__sigs"),
        )
        .select(id_col, label_col, vec_col, "__sigs", tables)
        .select(
            id_col, label_col, vec_col, "__t",
            F.expr("element_at(__sigs, CAST(__t AS INT) + 1)")
            .alias("__sig"),
        )
    )
    q_sig = (
        q.select(
            "qid", "qlabel", "qv", sigs(F.col("qv")).alias("__sigs")
        )
        .select("qid", "qlabel", "qv", "__sigs", tables)
        .select(
            "qid", "qlabel", "qv", "__t",
            F.expr("element_at(__sigs, CAST(__t AS INT) + 1)")
            .alias("__sig"),
        )
    )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    scored = (
        c_sig.repartition(par, "__t", "__sig")
        .join(q_sig.hint("shuffle_hash"), ["__t", "__sig"])
        .where(F.col(label_col) != F.col("qlabel"))
        .select(
            "qid",
            "qlabel",
            F.col(id_col),
            F.col(label_col),
            F.round(
                _dot(F.col(vec_col), F.col("qv"))
                / (_norm(F.col(vec_col)) * _norm(F.col("qv"))),
                6,
            ).alias("cosine"),
        )
    )
    # a pair colliding in several tables scores identically each time —
    # the pair-key groupBy dedupes without carrying vectors
    dedup = scored.groupBy("qid", id_col).agg(
        F.first("qlabel").alias("qlabel"),
        F.first(label_col).alias(label_col),
        F.max("cosine").alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        dedup.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("qid", "qlabel", id_col, label_col, "cosine")
    )


def rrf_fusion(
    rankings: list[DataFrame],
    id_col: str,
    rank_col: str = "rank",
    k_const: int = 60,
    topn: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of N retriever rankings —
    the standard hybrid-retrieval combiner (BM25 + dense, cosine + MIPS,
    multi-probe ANN): fused(d) = sum over lists of 1/(k + rank_i(d)).
    Expressed in integer ppm (1_000_000 div (k + rank)) so the fused
    score is cross-engine exact — RRF only consumes RANKS, never raw
    scores, which is exactly why it tolerates incomparable retrievers
    and why the integer form loses nothing.

    Inputs are (id, rank) relations (rank 1-based; a missing id simply
    contributes nothing from that list). Shape: union of the ranked
    lists (each already top-k bounded) -> one id-key groupBy -> top-n.
    At serving scale every input is a per-query top-k, so the whole
    fusion runs on N·k rows — driver-light, shuffle-trivial; the heavy
    lifting stays in the upstream retrievers.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(
            F.col(id_col).alias("__id"),
            F.col(rank_col).cast("long").alias("__rank"),
        )
        tagged = t if tagged is None else tagged.unionAll(t)
    fused = (
        tagged.groupBy("__id")
        .agg(
            F.sum(F.expr(f"1000000L div ({int(k_const)}L + __rank)"))
            .cast("long")
            .alias("fused_ppm"),
            F.count(F.lit(1)).cast("int").alias("n_lists"),
            F.min("__rank").cast("long").alias("best_rank"),
        )
        .orderBy(F.desc("fused_ppm"), F.asc("__id"))
        .limit(topn)
    )
    return fused.select(
        F.col("__id").alias(id_col), "fused_ppm", "n_lists", "best_rank"
    )


def dot_to_query(vec_col, query: list[float]):
    """Inner product of each row's vector with a constant query — the
    MIPS scoring function, same JVM fold as cosine_to_query (no UDF)."""
    q = F.array(*[F.lit(float(v)) for v in query])
    return _dot(vec_col, q)


def label_outlier_screen(
    df: DataFrame, vec_col: str, id_col: str, label_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Per-vector cosine to its OWN label centroid — the mislabeled-
    data screen (a vector far from its label's center is a labeling
    error candidate; run before trusting labels as training strata).
    label_centroid_similarity's per-vector sibling, same exactness
    design: components quantize to `scale` fixed-point ONCE, the
    centroid denominator CANCELS in cosine (cos(v, s/n) = cos(v, s)),
    all sums are integer/DECIMAL(38,0) (partition-order independent),
    and the only float ops are one IEEE sqrt/divide per vector at the
    end, rounded to 6.

    Shape: one posexplode + groupBy(label, dim) collapses the corpus to
    the |labels|·dim component table (broadcast by construction); the
    per-vector pass is one corpus×dim explode joined to that broadcast
    and re-grouped by vector id — linear in corpus cells, one shuffle
    keyed on the vector id, no |corpus|×|corpus| anything."""
    comp = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .groupBy("label", "dim")
        .agg(F.sum(F.round(F.col("x") * scale).cast("long")).alias("s"))
    )
    qq = comp.groupBy("label").agg(
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("qq")
    )
    vex = df.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).withColumn("v_fp", F.round(F.col("x") * scale).cast("long"))
    per_vec = (
        vex.join(F.broadcast(comp), ["label", "dim"])
        .groupBy("vid", "label")
        .agg(
            F.sum(F.col("v_fp").cast("decimal(38,0)") * F.col("s"))
            .alias("dot"),
            F.sum(F.col("v_fp").cast("decimal(38,0)") * F.col("v_fp"))
            .alias("vv"),
        )
    )
    return (
        per_vec.join(F.broadcast(qq), "label")
        .select(
            F.col("vid").alias(id_col),
            F.col("label").alias(label_col),
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("vv").cast("double"))
                    * F.sqrt(F.col("qq").cast("double"))
                ),
                6,
            ).alias("cos_centroid"),
        )
    )


def label_margin_screen(
    df: DataFrame, vec_col: str, id_col: str, label_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Silhouette-lite label-margin screen: per vector, cosine to its
    OWN label centroid minus the best cosine to any OTHER label's
    centroid — negative margin = the vector sits closer to another
    class's center (a stronger mislabel signal than the absolute
    own-centroid score of label_outlier_screen). Same exactness
    contract: fixed-point component sums, centroid denominators cancel,
    DECIMAL(38,0) accumulation, sqrt/divide + round(6) only at the end.

    Shape: the |labels|·dim component table is broadcast; each vector
    joins ALL |labels| centroids (a bounded |labels|-fold fan-out of
    the corpus×dim explode — labels are tens, not millions, by the
    screen's nature), one groupBy per (vector, label), then an argmax
    window per vector over the |labels|-bounded candidate relation."""
    comp = (
        df.select(
            F.col(label_col).alias("clabel"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .groupBy("clabel", "dim")
        .agg(F.sum(F.round(F.col("x") * scale).cast("long")).alias("s"))
    )
    qq = comp.groupBy("clabel").agg(
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("qq")
    )
    vex = df.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("own"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).withColumn("v_fp", F.round(F.col("x") * scale).cast("long"))
    per_pair = (
        vex.join(F.broadcast(comp), "dim")
        .groupBy("vid", "own", "clabel")
        .agg(
            F.sum(F.col("v_fp").cast("decimal(38,0)") * F.col("s"))
            .alias("dot"),
            F.sum(F.col("v_fp").cast("decimal(38,0)") * F.col("v_fp"))
            .alias("vv"),
        )
    )
    scored = per_pair.join(F.broadcast(qq), "clabel").select(
        "vid", "own", "clabel",
        F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("vv").cast("double"))
                * F.sqrt(F.col("qq").cast("double"))
            ),
            6,
        ).alias("cos"),
    )
    own = scored.where(F.col("clabel") == F.col("own")).select(
        "vid", F.col("own"), F.col("cos").alias("cos_own")
    )
    best_other = (
        scored.where(F.col("clabel") != F.col("own"))
        .groupBy("vid")
        .agg(F.max("cos").alias("cos_best_other"))
    )
    return (
        own.join(best_other.hint("shuffle_hash"), "vid")
        .select(
            F.col("vid").alias(id_col),
            F.col("own").alias(label_col),
            "cos_own",
            "cos_best_other",
            F.round(F.col("cos_own") - F.col("cos_best_other"), 6)
            .alias("margin"),
        )
    )


def ranking_metrics(
    ranked: DataFrame,
    truth: DataFrame,
    id_col: str,
    rank_col: str,
    weights: list[int],
    scale: int = 1_000_000,
) -> DataFrame:
    """Order-aware retrieval quality — MRR and DCG/NDCG@k — for a
    system's RANKED id list against a ground-truth id set, completing
    the ANN audit beyond set-level recall (recall can't see that the
    true best neighbor came back at rank 19).

    ``weights[r-1]`` is the integer discount for rank r (caller
    precomputes e.g. floor(scale/log2(r+1)) — the log never evaluates
    inside either engine, so the metric stays integer-exact
    cross-engine). IDCG is the weight sum (ground truth ≥ k items by
    contract). Output one row: n_hits, first_hit_rank (0 when no hit),
    rr_scaled = scale div first_hit_rank, dcg (sum of hit weights),
    ndcg_scaled = dcg·scale div IDCG.

    Shape: one semi-join of the k-row ranked list against the truth set
    plus a scalar aggregate — both k-bounded; rows with rank outside
    1..k are rejected (element_at under ANSI would throw)."""
    k = len(weights)
    if k == 0:
        raise ValueError("weights must be non-empty")
    warr = F.array(*[F.lit(int(w)) for w in weights])
    idcg = int(sum(weights))
    hits = (
        ranked.where(
            (F.col(rank_col) >= 1) & (F.col(rank_col) <= k)
        )
        .join(truth.select(id_col).distinct(), id_col, "left_semi")
    )
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.coalesce(F.min(rank_col), F.lit(0)).cast("long")
        .alias("first_hit_rank"),
        F.coalesce(
            F.sum(F.element_at(warr, F.col(rank_col).cast("int"))),
            F.lit(0),
        ).cast("long").alias("dcg"),
    )
    return agg.select(
        "n_hits", "first_hit_rank", "dcg",
        F.when(F.col("first_hit_rank") == 0, F.lit(0))
        .otherwise(F.expr(f"{int(scale)}L div first_hit_rank"))
        .cast("long").alias("rr_scaled"),
        F.expr(f"dcg * {int(scale)}L div {idcg}L")
        .cast("long").alias("ndcg_scaled"),
    )


def _fp_vec(vec_col: str, scale: int):
    """Fixed-point a double array with round-half-away-from-zero —
    the same rounding contract as embedding_moments_fp (sign·floor
    (abs+0.5) == SQL round()), expressed as JVM array algebra."""
    return F.transform(
        F.col(vec_col),
        lambda x: (
            F.signum(x) * F.floor(F.abs(x) * F.lit(float(scale)) + F.lit(0.5))
        ).cast("long"),
    )


def pca_project_fp(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    components_fp: list[list[int]],
    mean_fp: list[int],
    scale: int = 10**6,
) -> DataFrame:
    """Serve a trained PCA: project every embedding onto fixed-point
    principal components — the dimensionality-reduction sibling of the
    PQ/IVF serving paths (train driver-side on the dim²-bounded moment
    sidecar, serve distributed in exact integer arithmetic).

    ``components_fp`` (k × dim) and ``mean_fp`` (dim) are
    driver-trained integer sidecars (from ``embedding_moments_fp`` →
    ``covariance_from_moments`` → eigh, fixed-pointed and staged so an
    independent engine can re-derive every projection). Projection is
    pure map-side array algebra — fixed-point the vector
    (round-half-away, the moments contract), subtract the mean, dot
    each component via zip_with+aggregate — ZERO shuffles, zero
    Python: the 100 TB projection job is a single narrow scan. Output
    long-form (id, pc, proj_fp2) with proj in scale² units (no
    division — integer division of signed sums is where engines
    diverge, so we don't).

    Overflow bound: |centered| ≲ 2·scale, |comp| ≤ scale ⇒ per-term
    ≤ 2·scale², times dim — at scale 1e6, dim ≤ ~4000 stays in
    BIGINT."""
    k = len(components_fp)
    if k == 0:
        raise ValueError("at least one component required")
    dim = len(mean_fp)
    if any(len(c) != dim for c in components_fp):
        raise ValueError("component/mean dimension mismatch")
    mean_arr = F.array(*[F.lit(int(m)) for m in mean_fp])
    centered = F.zip_with(
        _fp_vec(vec_col, scale), mean_arr, lambda x, m: x - m
    )
    base = df.select(F.col(id_col), centered.alias("__c"))

    def _dot(comp: list[int]):
        comp_arr = F.array(*[F.lit(int(c)) for c in comp])
        return F.aggregate(
            F.zip_with(F.col("__c"), comp_arr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # all k dots in ONE projection, exploded row-side: one corpus scan
    # total (a per-component union would re-scan k times)
    kv = F.array(*[
        F.struct(
            F.lit(pc).cast("long").alias("pc"),
            _dot(comp).cast("long").alias("proj_fp2"),
        )
        for pc, comp in enumerate(components_fp)
    ])
    return base.select(F.col(id_col), F.explode(kv).alias("__kv")).select(
        F.col(id_col),
        F.col("__kv.pc").alias("pc"),
        F.col("__kv.proj_fp2").alias("proj_fp2"),
    )


def train_pca_fp(
    df: DataFrame,
    vec_col: str,
    k: int,
    scale: int = 10**6,
) -> tuple[list[list[int]], list[int]]:
    """Driver-side PCA training sidecar: exact integer moments
    (one distributed pass, `embedding_moments_fp`) → covariance →
    numpy eigh → top-k components by eigenvalue, each sign-canonicalized
    (its largest-|entry| made positive — eigh's sign is arbitrary, the
    canonical form makes training reproducible) and fixed-pointed.
    Returns (components_fp k×dim, mean_fp dim) — dim²-bounded driver
    state, the same contract as the k-means/PQ codebook sidecars."""
    rows = df.select(vec_col).limit(1).collect()
    if not rows:
        raise ValueError("empty input")
    dim = len(rows[0][0])
    moments = embedding_moments_fp(df, vec_col, scale=scale).collect()
    n = int(moments[0]["n"]) if moments else 0
    if n == 0:
        raise ValueError("empty input")
    cov = covariance_from_moments(moments, dim, scale=scale)
    sums = {int(r["i"]): int(r["sum_i"]) for r in moments}
    mean_fp = [sums[d] // n for d in range(dim)]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(
            [int(np.sign(x) * np.floor(abs(x) * scale + 0.5)) for x in v]
        )
    return comps, mean_fp


def train_opq_rotation_fp(
    df: DataFrame,
    vec_col: str,
    m_sub: int,
    scale: int = 10**6,
) -> tuple[list[list[int]], list[int]]:
    """Parametric OPQ rotation (Ge et al. 2013, "Optimized Product
    Quantization", the OPQ_P eigenvalue-allocation variant): under a
    Gaussian model the PQ-optimal rotation is the PCA basis with the
    eigenvalues BALANCED across the m_sub subspaces — each subspace
    should carry (near-)equal variance product, so no codebook wastes
    its k codes on a near-constant slice while another underfits.
    Training needs only the exact integer moment sidecar
    (`embedding_moments_fp` → covariance → eigh — the same one-pass
    statistic PCA trains from); allocation is the published greedy:
    eigenvalues descending, each assigned to the subspace with the
    smallest current log-variance-product that still has free slots.

    Returns (rotation_fp dim x dim — row r is the basis vector whose
    projection becomes rotated coordinate r, rows grouped by subspace —
    and mean_fp), both fixed-pointed with the repo's
    round-half-away-from-zero contract: dim²-bounded driver state, the
    k-means/PQ-codebook sidecar contract."""
    rows0 = df.select(vec_col).limit(1).collect()
    if not rows0:
        raise ValueError("empty input")
    dim = len(rows0[0][0])
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    cap = dim // m_sub
    moments = embedding_moments_fp(df, vec_col, scale=scale).collect()
    n = int(moments[0]["n"]) if moments else 0
    if n == 0:
        raise ValueError("empty input")
    cov = covariance_from_moments(moments, dim, scale=scale)
    sums = {int(r["i"]): int(r["sum_i"]) for r in moments}
    mean_fp = [sums[d] // n for d in range(dim)]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    # greedy eigenvalue allocation: balance sum(log lambda) per bucket
    logs = [0.0] * m_sub
    fill: list[list[int]] = [[] for _ in range(m_sub)]
    for idx in order:
        open_b = [b for b in range(m_sub) if len(fill[b]) < cap]
        b = min(open_b, key=lambda x: (logs[x], x))
        fill[b].append(int(idx))
        logs[b] += float(np.log(max(vals[idx], 1e-12)))
    rot = []
    for b in range(m_sub):
        for idx in fill[b]:
            v = vecs[:, idx]
            if v[int(np.argmax(np.abs(v)))] < 0:
                v = -v  # eigh sign canonicalization (train_pca_fp rule)
            rot.append(
                [int(np.sign(x) * np.floor(abs(x) * scale + 0.5)) for x in v]
            )
    return rot, mean_fp


def rotate_vectors_fp(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    rotation_fp: list[list[int]],
    mean_fp: list[int],
    scale: int = 10**6,
) -> DataFrame:
    """Serve a trained rotation: (id, rvec array<double>) with
    rvec = R(v - mean). The hot path is EXACT integer arithmetic — the
    vector fixed-points with the moments rounding contract, centering
    and the R matmul run in int64 (|centered| <= 2·scale, |R row| <=
    scale, dot over dim: dim·2·scale² — dim <= ~2000 stays in BIGINT)
    — then ONE float division by scale² at the end, so two runs (or
    two engines) produce bit-identical rvecs and everything staged
    downstream (codebooks, codes) is reproducible. One mapInPandas
    Arrow/BLAS edge (the embedding_moments_fp precedent — a dim x dim
    integer matmul per batch is not column algebra), ZERO shuffles:
    the 100 TB rotation job is a narrow scan."""
    rot = np.array(rotation_fp, dtype=np.int64)
    mean = np.array(mean_fp, dtype=np.int64)
    denom = float(scale) * float(scale)

    def _run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            m_fp = (np.sign(m) * np.floor(np.abs(m) * scale + 0.5)).astype(
                np.int64
            )
            proj = (m_fp - mean[None, :]) @ rot.T  # exact int64
            out = proj.astype(np.float64) / denom
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "rvec": [list(r) for r in out],
            })

    # the id passes through untouched, so the output schema carries the
    # INPUT id type verbatim (embedding_moments_fp precedent) — a
    # string doc id must not be silently cast to long by a hard-coded
    # schema
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        _run, schema=f"{id_col} {id_type}, rvec array<double>"
    )


def rotate_query_fp(
    query: list[float],
    rotation_fp: list[list[int]],
    mean_fp: list[int],
    scale: int = 10**6,
) -> list[float]:
    """Driver-side twin of `rotate_vectors_fp` for the probe vector —
    the SAME integer pipeline, so query and corpus land in the same
    rotated space bit-for-bit."""
    rot = np.array(rotation_fp, dtype=np.int64)
    mean = np.array(mean_fp, dtype=np.int64)
    q = np.asarray(query, dtype=np.float64)
    q_fp = (np.sign(q) * np.floor(np.abs(q) * scale + 0.5)).astype(np.int64)
    proj = (q_fp - mean) @ rot.T
    return [float(x) / (float(scale) * float(scale)) for x in proj]


def dim_truncation_recall(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_dims: int = 32,
    k: int = 10,
) -> DataFrame:
    """Matryoshka-style dimension-truncation ablation: for each query
    vector, exact cosine top-k under the FULL embedding vs under its
    first `keep_dims` coordinates, reported as overlap@k — the
    measurement behind 'can we serve ANN from a truncated index and
    re-rank with full vectors?'.

    Shape: the query relation is bounded by contract (a sampled probe
    set, never the corpus) and broadcasts; the corpus streams past it
    once — both rankings come from ONE pair scan with two
    query-partitioned windows (same partition key, so a single
    shuffle), never a global sort. Ranking ties break on rounded
    cosine then id, identical cross-engine.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    # width pin (SCALE.md AQE compute-amplification trap): the
    # corpus x probes pair scan multiplies per-row work |q|-fold but
    # otherwise inherits the single-file scan's 1-task partitioning
    pairs = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "cid"
        )
        .crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            F.round(
                _dot(F.col("cv"), F.col("qv"))
                / (_norm(F.col("cv")) * _norm(F.col("qv"))),
                6,
            ).alias("cos_full"),
            F.round(
                _dot(
                    F.slice(F.col("cv"), 1, keep_dims),
                    F.slice(F.col("qv"), 1, keep_dims),
                )
                / (
                    _norm(F.slice(F.col("cv"), 1, keep_dims))
                    * _norm(F.slice(F.col("qv"), 1, keep_dims))
                ),
                6,
            ).alias("cos_half"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("cos_full"), F.asc("cid"))
    wh = Window.partitionBy("qid").orderBy(F.desc("cos_half"), F.asc("cid"))
    ranked = pairs.select(
        "qid", "cid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wh).alias("rh"),
    )
    top_full = ranked.where(F.col("rf") <= k).select("qid", "cid")
    top_half = ranked.where(F.col("rh") <= k).select("qid", "cid")
    # both top-k relations are |queries| x k rows — bounded by contract,
    # broadcastable at any corpus size
    overlap = (
        top_full.join(F.broadcast(top_half), ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        q.select("qid")
        .join(F.broadcast(overlap), "qid", "left")
        .select(
            F.col("qid").cast("long").alias(id_col),
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long").alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) * 1000 / F.lit(k))
            .cast("long").alias("recall_pm"),
        )
    )


def mahalanobis_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 10**6,
    top_k: int = 20,
) -> DataFrame:
    """Diagonal-Mahalanobis embedding outliers — the multivariate
    'far from the corpus distribution' read (batch-effect detection,
    junk-embedding screening): score_i = sum_d (x_id - mu_d)^2 /
    var_d, with per-dimension moments from the whole corpus.

    EXACT integer pipeline: coordinates quantize ONCE to fixed point
    (deterministic — float sums would inherit partial-agg order), the
    per-dimension moment relation is dim-bounded (posexplode +
    (dim)-key agg, map-side combined), means/variances are integer
    ratios with truncating div, and the per-vector score is a BIGINT
    sum — so the outlier ranking hash-checks cross-engine. Two corpus
    passes (moments, scores), both linear; the dim-stats relation
    broadcasts by construction."""
    fp = df.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("d", "v"),
    ).select(
        "vid",
        (F.col("d") + 1).alias("d"),
        # quantize through DOUBLE explicitly: a float32 * int product
        # rounds differently from the oracle's DOUBLE path
        F.round(F.col("v").cast("double") * scale, 0).cast("long").alias("x"),
    )
    stats = fp.groupBy("d").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)").alias("sxx"),
    ).select(
        "d",
        F.expr("sx * 1 div n").cast("long").alias("mu"),
        # population variance in fp^2 units; floor at 1 so a constant
        # dimension contributes (x - mu)^2 rather than dividing by 0
        F.greatest(
            F.expr("(n * sxx - sx * sx) div (n * n)").cast("long"),
            F.lit(1),
        ).alias("var_fp"),
    )
    scored = (
        fp.join(F.broadcast(stats), "d")
        .select(
            "vid",
            F.expr(
                "CAST((x - mu) AS DECIMAL(38,0)) * (x - mu) div var_fp"
            ).cast("long").alias("z2"),
        )
        .groupBy("vid")
        .agg(F.sum("z2").cast("long").alias("maha_score"))
    )
    return (
        scored.select(F.col("vid").alias(id_col), "maha_score")
        .orderBy(F.desc("maha_score"), F.asc(id_col))
        .limit(top_k)
    )


def binary_sign_sigs(
    df: DataFrame, vec_col: str, id_col: str, dim: int
) -> DataFrame:
    """Binary (sign-bit) quantization of raw embedding dimensions —
    the vector-DB "BQ" compression tier (1 bit/dim = 32x smaller than
    float32; Hamming distance approximates angular distance for
    roughly-centered embeddings): bit i = 1 iff v[i] > 0, packed 32
    dims per BIGINT word (32 not 64, so no sign-bit edge case in
    either engine's shift). Pure deterministic arithmetic — unlike the
    hyperplane-LSH signature there is no projection and no seed, so a
    cross-engine oracle re-derives the signatures from the raw
    vectors. Emits (id, vec passthrough, sig_w0..sig_w{n-1}).
    """
    n_words = (int(dim) + 31) // 32
    sig_cols = []
    for w in range(n_words):
        sig_cols.append(F.expr(
            "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, b) -> "
            "acc + CASE WHEN %d + b + 1 <= %d AND "
            "try_element_at(%s, %d + b + 1) > 0D "
            "THEN shiftleft(CAST(1 AS BIGINT), b) "
            "ELSE CAST(0 AS BIGINT) END)"
            % (w * 32, int(dim), vec_col, w * 32)
        ).alias(f"sig_w{w}"))
    return df.select(F.col(id_col), F.col(vec_col), *sig_cols)


def binary_sign_query_sig(query: list, dim: int) -> list:
    """Driver-side signature of the (constant) query vector — the same
    32-dims-per-word packing as `binary_sign_sigs`."""
    n_words = (int(dim) + 31) // 32
    words = [0] * n_words
    for i, v in enumerate(query[:dim]):
        if float(v) > 0.0:
            words[i // 32] += 1 << (i % 32)
    return words


def binary_quantized_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list,
    dim: int, k: int = 20, rerank: int = 100,
) -> DataFrame:
    """ANN via binary quantization + exact re-rank — the serving
    composition every BQ-tier vector store runs: Hamming distance over
    the 1-bit signatures (bit_count of XOR per word — integer, exact,
    32x less data scanned than the float vectors) selects a
    ``rerank``-sized candidate pool, then exact cosine re-ranks the
    pool to the final top-``k``. Complements the LSH (projection
    buckets), IVF (partition pruning) and PQ (codebook ADC) tiers:
    BQ is the zero-training tier — no seed, no codebook, no index
    build, just a map-side signature column.

    Both stages are TakeOrderedAndProject (never a global sort); the
    re-rank scans only ``rerank`` rows. Deterministic ties by id.
    """
    sigs = binary_sign_sigs(df, vec_col, id_col, dim)
    q_words = binary_sign_query_sig(query, dim)
    ham = None
    for w, qw in enumerate(q_words):
        term = F.expr(
            "bit_count(sig_w%d ^ CAST(%d AS BIGINT))" % (w, qw)
        )
        ham = term if ham is None else ham + term
    cands = (
        sigs.withColumn("__ham", ham.cast("long"))
        .orderBy(F.asc("__ham"), F.asc(id_col))
        .limit(int(rerank))
    )
    return brute_force_topk(cands, vec_col, id_col, query, k=k)


def linear_mmd_by_group(
    df: DataFrame, vec_col: str, group_col: str, dim: int,
    scale: int = 10**6,
) -> DataFrame:
    """Linear-kernel Maximum Mean Discrepancy between every group pair
    — the embedding-drift screen (Gretton et al.'s MMD with k(x,y) =
    x·y, for which MMD^2 collapses to ||mu_a - mu_b||^2): did source
    A's embedding distribution move away from source B's, in one
    number per pair. Exact fixed point: per-dim means quantized at
    ``scale`` (sum*scale div n — floor applied identically by both
    engines), then an exact integer sum of squared differences.

    Shape: one posexplode + (group, dim) groupBy collapses the corpus
    to a |groups|*dim moment relation (bounded, broadcastable); the
    pair expansion is a self-join of that bounded relation — never
    data-sized. Returns (group_a, group_b, mmd2_fp) for a < b, where
    mmd2_fp = sum_d (mu_a_fp - mu_b_fp)^2 div scale.
    """
    moments = (
        df.select(
            F.col(group_col).alias("__g"),
            F.posexplode(F.col(vec_col)).alias("__d", "__x"),
        )
        # quantize BEFORE the sum: a float sum is partition-order
        # dependent and can never hash cross-engine; the integer sum
        # of per-element round(x*scale) is exact and associative
        .select(
            "__g", "__d",
            F.expr(f"CAST(round(__x * {int(scale)}) AS BIGINT)")
            .alias("__x_fp"),
        )
        .groupBy("__g", "__d")
        .agg(
            F.expr(
                "CAST(CAST(sum(__x_fp) AS DECIMAL(38,0))"
                " div count(*) AS BIGINT)"
            ).alias("__mu_fp")
        )
    )
    a = moments.select(
        F.col("__g").alias("group_a"), "__d",
        F.col("__mu_fp").alias("__ma"),
    )
    b = moments.select(
        F.col("__g").alias("group_b"), "__d",
        F.col("__mu_fp").alias("__mb"),
    )
    pairs = a.join(b, "__d").where(F.col("group_a") < F.col("group_b"))
    return pairs.groupBy("group_a", "group_b").agg(
        F.expr(
            f"CAST(CAST(sum(CAST(__ma - __mb AS DECIMAL(38,0))"
            f" * (__ma - __mb)) AS DECIMAL(38,0)) div {int(scale)}"
            " AS BIGINT)"
        ).alias("mmd2_fp")
    )
