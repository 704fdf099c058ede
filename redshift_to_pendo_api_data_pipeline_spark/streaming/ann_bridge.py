"""Streaming ANN serving: a stream of query vectors probed against the
persisted IVF index.

Complements ``streaming/dedup_bridge`` on the similarity side: the index
is built once (``operators/similarity.build_ivf_index`` —
partitionBy(__cluster) parquet + staged centroids) and a stream of
(query_id, vector) rows is answered per micro-batch via ``foreachBatch``:

1. the batch's query vectors assign to their n_probe nearest lists with
   one numpy distance matrix on the driver (a micro-batch of queries is
   small by construction; the CORPUS never touches the driver),
2. the index is read ONCE per batch, partition-pruned to the union of
   all probed lists,
3. queries explode to (query, cluster) pairs and equi-join the pruned
   index on cluster — so each query only meets candidates in its own
   lists; exact cosine + a per-query top-k window finishes the job.

One Spark job per micro-batch regardless of how many queries it holds;
per-batch scan cost is |union of probed lists|, not the corpus.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.routing import local_df

from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
    _dot,
    _norm,
)
from redshift_to_pendo_api_data_pipeline_spark.streaming.incremental import (
    run_incremental_sync,
)


def _result_schema(spark, queries_df: DataFrame, index_path: str,
                   qid_col: str, id_col: str):
    """Output schema (qid, id, cosine) derived from the ACTUAL query and
    index schemas — string/uuid/int ids pass through unchanged instead of
    being coerced to long, keeping the driver and distributed paths
    row-identical for any id type. Reading the index schema is a parquet
    footer touch, not a scan."""
    from pyspark.sql import types as T

    qf = queries_df.schema[qid_col]
    idf = spark.read.parquet(index_path).schema[id_col]
    return T.StructType([
        T.StructField(qid_col, qf.dataType, qf.nullable),
        T.StructField(id_col, idf.dataType, idf.nullable),
        T.StructField("cosine", T.DoubleType(), True),
    ])


def batch_ivf_topk(
    spark,
    queries_df: DataFrame,
    index_path: str,
    centroids: np.ndarray,
    vec_col: str,
    id_col: str,
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    k: int = 10,
    n_probe: int = 4,
    max_driver_queries: int = 10_000,
) -> DataFrame:
    """Answer MANY queries against a persisted IVF index in one job:
    (query_id, vec_id, cosine), top-k rows per query. Also usable in
    batch for bulk re-ranking jobs.

    The driver matmul requires collecting the query vectors, so the
    collect is GUARDED: query sets above ``max_driver_queries`` rows
    auto-route to :func:`batch_ivf_topk_distributed` (row-identical
    results, vectors never touch the driver). The probe costs
    ``limit(cap+1).count()`` — O(cap) rows, never a full count of an
    unexpectedly large query relation."""
    from pyspark.sql import types as T

    from redshift_to_pendo_api_data_pipeline_spark.operators.routing import (
        within_driver_bound,
    )

    if not within_driver_bound(queries_df, max_driver_queries):
        return batch_ivf_topk_distributed(
            spark, queries_df, index_path, centroids, vec_col, id_col,
            qid_col=qid_col, qvec_col=qvec_col, k=k, n_probe=n_probe,
        )
    qrows = queries_df.select(qid_col, qvec_col).collect()
    if not qrows:
        return local_df(
            spark, [],
            _result_schema(spark, queries_df, index_path, qid_col, id_col),
        )
    qm = np.array([list(r[qvec_col]) for r in qrows], dtype=np.float64)
    d = ((qm[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    order = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
    probe_rows = [
        (r[qid_col], [float(x) for x in qm[i]], [int(c) for c in order[i]])
        for i, r in enumerate(qrows)
    ]
    qf = queries_df.schema[qid_col]
    qdf = local_df(
        spark,
        probe_rows,
        T.StructType([
            T.StructField(qid_col, qf.dataType, qf.nullable),
            T.StructField(qvec_col, T.ArrayType(T.DoubleType()), False),
            T.StructField("__probes", T.ArrayType(T.IntegerType()), False),
        ]),
    )
    all_probes = sorted({int(c) for r in order for c in r})

    idx = (
        spark.read.parquet(index_path)
        .where(F.col("__cluster").isin(all_probes))  # partition-pruned scan
        .select(id_col, vec_col, "__cluster")
    )
    exploded = qdf.select(
        qid_col, qvec_col, F.explode("__probes").alias("__cluster")
    )
    # each query meets only candidates in its own probed lists
    pairs = idx.join(F.broadcast(exploded), "__cluster")
    cos = F.round(
        _dot(F.col(vec_col), F.col(qvec_col))
        / (_norm(F.col(vec_col)) * _norm(F.col(qvec_col))),
        6,
    )
    ranked = pairs.select(
        qid_col, F.col(id_col), cos.alias("cosine")
    ).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy(qid_col).orderBy(
                F.desc("cosine"), F.asc(id_col)
            )
        ),
    )
    return ranked.where(F.col("__rk") <= k).drop("__rk")


def batch_ivf_topk_distributed(
    spark,
    queries_df: DataFrame,
    index_path: str,
    centroids: np.ndarray,
    vec_col: str,
    id_col: str,
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Join-based twin of batch_ivf_topk for HEAVY query batches: query
    vectors never touch the driver. Probe assignment runs as an
    Arrow-batched pandas_udf (one numpy distance matrix per batch — the
    centroid matrix is the closure constant, n_list·dim floats), queries
    explode to (query, cluster) rows, and the equi-join against the
    partition-pruned index is a plain shuffle join AQE converts to a
    broadcast when the query side turns out small — the crossover is
    Spark's, sized at runtime.

    The only driver materialization is the DISTINCT probed-cluster list
    (≤ n_list rows — the same bounded sidecar contract as the centroids
    themselves), needed to push partition pruning into the index scan.
    The probe-assignment subtree is evaluated twice (once for that
    distinct, once in the join) rather than persisted — two Arrow passes
    over the query batch beat holding micro-batch blocks in executor
    storage across triggers."""
    from pyspark.sql import types as T

    cmat = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes_of(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.array([list(v) for v in vecs], dtype=np.float64)
        d = ((m[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([[int(c) for c in row] for row in order])

    exploded = queries_df.select(
        F.col(qid_col),
        F.col(qvec_col),
        F.explode(probes_of(F.col(qvec_col))).alias("__cluster"),
    )
    probed = [
        int(r["__cluster"])
        for r in exploded.select("__cluster").distinct().collect()
    ]
    if not probed:
        return local_df(
            spark, [],
            _result_schema(spark, queries_df, index_path, qid_col, id_col),
        )
    idx = (
        spark.read.parquet(index_path)
        .where(F.col("__cluster").isin(probed))  # partition-pruned scan
        .select(id_col, vec_col, "__cluster")
    )
    cos = F.round(
        _dot(F.col(vec_col), F.col(qvec_col))
        / (_norm(F.col(vec_col)) * _norm(F.col(qvec_col))),
        6,
    )
    ranked = idx.join(exploded, "__cluster").select(
        qid_col, F.col(id_col), cos.alias("cosine")
    ).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy(qid_col).orderBy(
                F.desc("cosine"), F.asc(id_col)
            )
        ),
    )
    return ranked.where(F.col("__rk") <= k).drop("__rk")


def streaming_ann_topk(
    stream_df: DataFrame,
    index_path: str,
    centroids: np.ndarray,
    vec_col: str,
    id_col: str,
    checkpoint: str,
    on_results: Callable[[DataFrame, int], None],
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    k: int = 10,
    n_probe: int = 4,
    max_driver_queries: int = 10_000,
):
    """Start a streaming query answering each micro-batch of
    (query_id, qvec) rows from the persisted IVF index;
    ``on_results(topk_df, batch_id)`` receives (query_id, vec_id, cosine)
    top-k rows per query. Returns the StreamingQuery.

    Micro-batches up to ``max_driver_queries`` rows take the collect
    path (one driver matmul — lowest latency for serving-sized
    batches); heavier batches switch to the join-based distributed
    path, so a backlogged source replaying millions of queries in one
    availableNow batch never funnels them through the driver. Both
    paths return identical rows (crossover pinned by test)."""
    spark = stream_df.sparkSession

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # Correctness pin: foreachBatch re-evaluates the source per
        # action; batch_ivf_topk's crossover probe and the chosen path
        # must read one copy of the batch. Routing lives in
        # batch_ivf_topk itself: micro-batches over max_driver_queries
        # rows take the join-based distributed path instead of
        # collecting to the driver.
        batch_df.persist()
        try:
            out = batch_ivf_topk(
                spark, batch_df, index_path, centroids, vec_col, id_col,
                qid_col=qid_col, qvec_col=qvec_col, k=k, n_probe=n_probe,
                max_driver_queries=max_driver_queries,
            )
            # on_results must consume `out` eagerly (write/collect) — the
            # batch is unpersisted when it returns.
            on_results(out, batch_id)
        finally:
            batch_df.unpersist()

    return run_incremental_sync(stream_df, checkpoint, _process)


def streaming_index_append(
    stream_df: DataFrame,
    index_path: str,
    centroids: np.ndarray,
    vec_col: str,
    id_col: str,
    checkpoint: str,
    batch_prefix: str = "mb",
):
    """Streaming IVF index MAINTENANCE: every micro-batch of new
    (id, vector) rows is appended into the persisted index's list
    partitions via ``operators/similarity.ivf_index_append``, quantized
    against the EXISTING centroids — the ingest half of the
    build-once/probe-many serving story, as a Structured Streaming sink.

    Exactly-once effect from at-least-once delivery: foreachBatch may
    replay a batch after a failure (its output action is not
    transactional), so each append is keyed by a deterministic batch id
    ``<batch_prefix>-<epoch id>`` and the operator's Hadoop-FS marker
    turns the replay into a no-op instead of duplicating vectors — the
    same contract the checkpoint gives the streaming engine, extended to
    the index files. Probes (``streaming_ann_topk``, `ivf_topk_persisted`)
    see appended vectors on their next batch read with partition pruning
    unchanged, because the partitioning key set is fixed by the quantizer.

    Returns the StreamingQuery."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.similarity import (
        ivf_index_append,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_append(
            batch_df, vec_col, id_col, index_path, centroids,
            batch_id=f"{batch_prefix}-{batch_id}",
        )

    return run_incremental_sync(stream_df, checkpoint, _process)
