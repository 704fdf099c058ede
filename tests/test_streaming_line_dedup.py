"""Streaming corpus line dedup
(streaming.dedup_bridge.streaming_corpus_line_dedup): the ingest-time
twin of curation.corpus_line_dedup — streamed survivors match the batch
operator when arrival order == (doc id) order, line state suppresses
across micro-batches, blank lines pass through unconditionally, replay
of a batch is idempotent, and the TTL re-admits a line after expiry."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from redshift_to_pendo_api_data_pipeline_spark.operators.curation import (
    corpus_line_dedup,
)
from redshift_to_pendo_api_data_pipeline_spark.streaming.dedup_bridge import (
    streaming_corpus_line_dedup,
)
from redshift_to_pendo_api_data_pipeline_spark.streaming.incremental import (
    read_stream,
)

ROWS1 = [
    (1, "shared one.\n\nunique a.", "2024-01-01 10:00:00"),
    (2, "shared one.\nunique b.\nshared two.", "2024-01-01 10:01:00"),
    (3, "shared two.\nshared one.", "2024-01-01 10:02:00"),
]
ROWS2 = [
    (4, "shared one.\n\nfresh four.", "2024-01-01 10:05:00"),  # in horizon
    (5, "fresh five.", "2024-01-01 10:06:00"),
]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, ts_s string"
    ).selectExpr("doc_id", "text", "CAST(ts_s AS TIMESTAMP) AS ts")


def _run(spark, src, ckpt, state, schema, out, ttl=None):
    def on_batch(df, batch_id):
        out.extend(
            (r["doc_id"], r["text"], r["n_lines_kept"]) for r in df.collect()
        )

    q = streaming_corpus_line_dedup(
        read_stream(spark, src, schema), "text", "doc_id", "ts",
        state_dir=state, checkpoint=ckpt, on_batch=on_batch,
        ttl_seconds=ttl,
    )
    q.awaitTermination(120)


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["path", "file_uri"])
def test_streaming_line_dedup_matches_batch_and_suppresses(spark, scheme):
    # a file: URI state dir must be listed through the Hadoop FS, or the
    # second batch finds no state and lines already seen pass again
    with tempfile.TemporaryDirectory() as d:
        base = f"{scheme}{d}"
        src, ckpt, state = f"{base}/src", f"{base}/ckpt", f"{base}/state"
        _df(spark, ROWS1).coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema
        out = []
        _run(spark, src, ckpt, state, schema, out)
        got = {doc: (text, n) for doc, text, n in out}
        # one batch in doc order == the batch operator's answer
        want = {
            r["doc_id"]: (r["text"], r["n_lines_kept"])
            for r in corpus_line_dedup(
                _df(spark, ROWS1), "text", "doc_id"
            ).collect()
        }
        assert got == want
        # blank line in doc 1 passed through
        assert got[1][0] == "shared one.\n\nunique a."
        assert 3 not in got  # lost every line

        # second micro-batch: state suppresses 'shared one.' again;
        # doc 4's blank line still passes
        _df(spark, ROWS2).coalesce(1).write.mode("append").parquet(src)
        out2 = []
        _run(spark, src, ckpt, state, schema, out2)
        got2 = {doc: (text, n) for doc, text, n in out2}
        assert got2[4] == ("\nfresh four.", 2)
        assert got2[5] == ("fresh five.", 1)


def test_streaming_line_dedup_replay_idempotent(spark):
    with tempfile.TemporaryDirectory() as d:
        src, state = f"{d}/src", f"{d}/state"
        _df(spark, ROWS1).coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema
        # simulate a foreachBatch replay: run batch 0 twice against the
        # SAME state dir with a fresh checkpoint (as after a pre-commit
        # crash) — the delta overwrite keeps state digest-unique and the
        # emitted rows identical
        a, b = [], []
        _run(spark, src, f"{d}/ckpt_a", state, schema, a)
        _run(spark, src, f"{d}/ckpt_b", state, schema, b)
        # the replayed batch ignores its OWN prior delta, so it emits
        # identical rows and overwrites the delta with identical data
        assert sorted(a) == sorted(b)
        st = spark.read.parquet(f"{state}/batch=*")
        assert st.count() == st.select("digest").distinct().count()
        want = sorted(
            (r["doc_id"], r["text"], r["n_lines_kept"])
            for r in corpus_line_dedup(
                _df(spark, ROWS1), "text", "doc_id"
            ).collect()
        )
        assert sorted(a) == want


def test_streaming_line_dedup_ttl_readmits(spark):
    rows_late = [(9, "shared one.\nnine only.", "2024-01-01 11:00:00")]
    with tempfile.TemporaryDirectory() as d:
        src, ckpt, state = f"{d}/src", f"{d}/ckpt", f"{d}/state"
        _df(spark, ROWS1).coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema
        out = []
        _run(spark, src, ckpt, state, schema, out, ttl=600)
        # an hour later, 'shared one.' is past the 10-minute TTL: the
        # digest no longer suppresses and the line is admitted again
        _df(spark, rows_late).coalesce(1).write.mode("append").parquet(src)
        out2 = []
        _run(spark, src, ckpt, state, schema, out2, ttl=600)
        got = {doc: text for doc, text, _ in out2}
        assert got[9] == "shared one.\nnine only."
