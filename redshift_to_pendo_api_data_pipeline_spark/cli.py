"""Command-line entry points mirroring the reference's two binaries.

Reference (README.md:196-236):
    tap-redshift -c cfg -d                       # discovery -> catalog JSON
    tap-redshift -c cfg --catalog c.json -s s.json | target-pendo -c cfg

Here both halves are one process (the pipe is a DataFrame plan):
    python -m redshift_to_pendo_api_data_pipeline_spark.cli discover -c cfg.json
    python -m redshift_to_pendo_api_data_pipeline_spark.cli sync -c cfg.json -s state.json

Config (JSON):
    {"source": {"kind": "parquet", "dir": "/root/testdata/sf0.001"},
     "streams": [{"name": "events", "primary_key": "event_id",
                  "replication_method": "INCREMENTAL",
                  "replication_key": "ts",
                  "field_mappings": {"user_id": "visitorId"}}],
     "sink": {"kind": "singer", "out_dir": "/tmp/out"}}
    sink kinds: "singer" (message files), "http" (base_url/stream batches),
    "noop" (count only).
JDBC sources use {"kind": "jdbc", "host": ..., "db_schema": ...} and the
same stream specs (requires the postgres driver jar on the cluster).
"""

from __future__ import annotations

import argparse
import json
import sys

from redshift_to_pendo_api_data_pipeline_spark.catalog import discover_parquet_catalog
from redshift_to_pendo_api_data_pipeline_spark.plans.state import State, build_state, streams_to_sync
from redshift_to_pendo_api_data_pipeline_spark.plans.sync import run_sync
from redshift_to_pendo_api_data_pipeline_spark.schema import StreamSpec
from redshift_to_pendo_api_data_pipeline_spark.session import get_spark
from redshift_to_pendo_api_data_pipeline_spark.sources.tables import TABLES, load_table


def _streams(cfg: dict) -> list[StreamSpec]:
    return [StreamSpec(**s) for s in cfg.get("streams", [])]


def cmd_discover(cfg: dict) -> int:
    spark = get_spark(app_name="discover")
    src = cfg["source"]
    if src["kind"] == "parquet":
        entries = discover_parquet_catalog(spark, src["dir"], TABLES)
    else:
        raise SystemExit("discovery for non-parquet sources needs a live DB")
    print(json.dumps({"streams": [e.__dict__ for e in entries]}, indent=2))
    return 0


def _make_sink(cfg: dict, stream: StreamSpec, state: State):
    sink_cfg = cfg.get("sink", {"kind": "noop"})
    kind = sink_cfg.get("kind", "noop")
    if kind == "noop":
        return lambda df: df.count()
    if kind == "singer":
        from redshift_to_pendo_api_data_pipeline_spark.functions.singer import write_message_file

        def singer_sink(df):
            # the shaped payload is {id, values}; flatten for the wire
            flat = df.select("id", "values.*")
            return write_message_file(
                flat,
                stream.name,
                state.get_bookmark(stream.name, "version"),  # run_sync's stamp
                [stream.field_mappings.get(stream.primary_key, stream.primary_key)],
                state.to_dict(),
                f"{sink_cfg['out_dir']}/{stream.name}",
            )

        return singer_sink
    if kind == "http":
        from redshift_to_pendo_api_data_pipeline_spark.sink.batching import (
            DEFAULT_MAX_BYTES, DEFAULT_MAX_RECORDS,
        )
        from redshift_to_pendo_api_data_pipeline_spark.sink.http_sink import SinkConfig, sink_dataframe
        from pyspark.sql import functions as F

        def http_sink(df):
            flat = df.select(F.col("id"), "values.*")
            scfg = SinkConfig(
                base_url=sink_cfg["base_url"],
                stream_name=stream.name,
                api_key=sink_cfg.get("api_key", ""),
                max_records=int(sink_cfg.get("batch_records", DEFAULT_MAX_RECORDS)),
                max_bytes=int(sink_cfg.get("batch_bytes", DEFAULT_MAX_BYTES)),
                request_delay=float(sink_cfg.get("request_delay", 0.0)),
            )
            # one row per POSTed batch: collect once and sum here, so no
            # second action can re-run (and re-POST) a writer partition
            rows = sink_dataframe(flat, scfg).collect()
            failed = sum(r["failed"] for r in rows)
            if failed:
                print(f"WARN {stream.name}: {failed} records quarantined",
                      file=sys.stderr)
            return sum(r["total"] for r in rows)

        return http_sink
    raise SystemExit(f"unknown sink kind {kind!r}")


def cmd_sync(cfg: dict, state_path: str | None) -> int:
    spark = get_spark(app_name="sync")
    src = cfg["source"]
    streams = _streams(cfg)
    prior = State.load(state_path) if state_path else State()
    state = build_state(prior, streams)

    # resume: if a prior run died mid-stream, skip the already-finished
    # streams (currently_syncing dropwhile, resolve.py:72-75 parity)
    for stream in streams_to_sync(streams, prior):
        if src["kind"] == "parquet":
            df = load_table(spark, src["dir"], stream.name)
        else:
            from redshift_to_pendo_api_data_pipeline_spark.sources.jdbc import JdbcConfig, read_table
            jc = JdbcConfig(**{k: v for k, v in src.items() if k != "kind"})
            df = read_table(spark, jc, stream.name)
        sink = _make_sink(cfg, stream, state)
        res = run_sync(spark, df, stream, state, sink)
        print(
            f"stream={res.stream} records={res.record_count} "
            f"bookmark={res.bookmark} version={res.version}",
            file=sys.stderr,
        )

    out = json.dumps(state.to_dict(), indent=2)
    if state_path:
        with open(state_path, "w") as fh:
            fh.write(out)
    print(out)
    return 0


def cmd_curate(cfg: dict) -> int:
    """Run the corpus-curation funnel end-to-end: configured stages over a
    documents table, curated parquet out, per-stage attrition report on
    stdout as one JSON line. Config:

        {"input": "/root/testdata/sf0.001", "table": "documents",
         "output": "/tmp/curated",
         "text_col": "text", "id_col": "doc_id",
         "stages": [
           {"kind": "min_length", "col": "n_chars", "min_chars": 50},
           {"kind": "lang", "col": "lang", "allow": ["en"]},
           {"kind": "exact_dedup"},
           {"kind": "neardup", "threshold": 0.8, "stage_dir": "/tmp/sigs"},
           {"kind": "strip_spans", "k": 5, "min_docs": 2},
           {"kind": "decontaminate", "eval_dir": ..., "eval_table": ..., "n": 8}
         ]}
    """
    from redshift_to_pendo_api_data_pipeline_spark.operators.curation import (
        exact_dedup_stage,
        decontamination_stage,
        lang_allowlist_stage,
        min_length_stage,
        neardup_stage,
        quality_funnel,
        strip_spans_stage,
    )

    spark = get_spark(app_name="curate")
    text_col = cfg.get("text_col", "text")
    id_col = cfg.get("id_col", "doc_id")
    df = load_table(spark, cfg["input"], cfg.get("table", "documents"))

    stages = []
    for st in cfg["stages"]:
        kind = st["kind"]
        if kind == "min_length":
            stages.append(
                (kind, min_length_stage(st.get("col", "n_chars"), st["min_chars"]))
            )
        elif kind == "lang":
            stages.append((kind, lang_allowlist_stage(st.get("col", "lang"), st["allow"])))
        elif kind == "exact_dedup":
            stages.append((kind, exact_dedup_stage(text_col, id_col)))
        elif kind == "neardup":
            stages.append(
                (kind, neardup_stage(
                    text_col, id_col,
                    stage_dir=st["stage_dir"], threshold=st.get("threshold", 0.8),
                ))
            )
        elif kind == "containment":
            from redshift_to_pendo_api_data_pipeline_spark.operators.curation import (
                containment_stage,
            )

            stages.append(
                (kind, containment_stage(
                    text_col, id_col,
                    block_col=st.get("block_col", "source"),
                    stage_dir=st["stage_dir"],
                    threshold=st.get("threshold", 0.8),
                ))
            )
        elif kind == "strip_spans":
            stages.append(
                (kind, strip_spans_stage(
                    text_col, id_col,
                    k=st.get("k", 5), min_docs=st.get("min_docs", 2),
                ))
            )
        elif kind == "decontaminate":
            eval_df = load_table(spark, st["eval_dir"], st["eval_table"])
            stages.append(
                (kind, decontamination_stage(eval_df, text_col, id_col, st.get("n", 8)))
            )
        elif kind == "classifier":
            from redshift_to_pendo_api_data_pipeline_spark.operators.curation import (
                classifier_filter_stage,
            )

            wfp = spark.read.parquet(st["weights"])
            stages.append(
                (kind, classifier_filter_stage(
                    wfp, text_col, id_col,
                    min_logit_fp=int(st.get("min_logit_fp", 0)),
                    dim=int(st.get("dim", 2**15)),
                ))
            )
        elif kind == "c4_lines":
            from redshift_to_pendo_api_data_pipeline_spark.operators.curation import (
                c4_line_filters,
            )

            def _c4_stage(st=st):
                # rewrite stage: survivors get their filtered text back,
                # every other column passes through (the strip_spans
                # join-back pattern)
                def fn(df):
                    kept = c4_line_filters(
                        df, text_col, id_col,
                        min_line_words=int(st.get("min_line_words", 5)),
                        min_lines=int(st.get("min_lines", 3)),
                    ).select(id_col, text_col)
                    return df.drop(text_col).join(kept, id_col)
                return fn

            stages.append((kind, _c4_stage()))
        elif kind == "line_dedup":
            from redshift_to_pendo_api_data_pipeline_spark.operators.curation import (
                corpus_line_dedup,
            )

            def _ld_stage():
                def fn(df):
                    kept = corpus_line_dedup(df, text_col, id_col).select(
                        id_col, text_col
                    )
                    return df.drop(text_col).join(kept, id_col)
                return fn

            stages.append((kind, _ld_stage()))
        elif kind == "url":
            from redshift_to_pendo_api_data_pipeline_spark.operators.url import (
                url_stage,
            )

            stages.append(
                (kind, url_stage(
                    st.get("url_col", "url"), id_col,
                    score_col=st.get("score_col", "n_chars"),
                    blocked_domains=tuple(st.get("blocked_domains", ())),
                ))
            )
        else:
            raise SystemExit(f"unknown curation stage {kind!r}")

    report = {
        r["stage"]: r["n_docs"]
        for r in quality_funnel(df, stages).collect()
    }
    cur = df
    for _, fn in stages:
        cur = fn(cur)
    cur.write.mode("overwrite").parquet(cfg["output"])
    print(json.dumps({"attrition": report, "output": cfg["output"]}))
    return 0


def cmd_classify(cfg: dict) -> int:
    """Train the learned quality filter and publish its fixed-point
    weight table (the artifact `curate`'s classifier stage and the
    streaming scorer consume). Config:

        {"input": "/root/testdata/sf0.001", "table": "documents",
         "text_col": "text", "id_col": "doc_id",
         "positive_sources": ["src0", "src1"],   # target domain labels
         "weights_out": "/tmp/clf_weights",
         "epochs": 3, "lr": 0.5, "dim": 32768,
         "scores_out": "/tmp/clf_scores"}        # optional

    Prints one JSON line with the label split and weight-table size."""
    from pyspark.sql import functions as F

    from redshift_to_pendo_api_data_pipeline_spark.operators.classifier import (
        hashed_features,
        score_logreg_fp,
        train_logreg,
        weights_fixed_point,
    )

    spark = get_spark(app_name="classify")
    text_col = cfg.get("text_col", "text")
    id_col = cfg.get("id_col", "doc_id")
    df = load_table(spark, cfg["input"], cfg.get("table", "documents"))
    feats = hashed_features(df, text_col, id_col, dim=int(cfg.get("dim", 2**15)))
    labels = df.select(
        F.col(id_col).alias("doc"),
        F.col("source").isin(list(cfg["positive_sources"])).cast("int").alias("y"),
    )
    w = train_logreg(feats, labels, lr=float(cfg.get("lr", 0.5)),
                     n_epochs=int(cfg.get("epochs", 3)))
    wfp = weights_fixed_point(w)
    wfp.write.mode("overwrite").parquet(cfg["weights_out"])
    n_pos = labels.where("y = 1").count()
    out = {
        "weights_out": cfg["weights_out"],
        "n_weights": spark.read.parquet(cfg["weights_out"]).count(),
        "n_docs": labels.count(),
        "n_positive": n_pos,
    }
    if cfg.get("scores_out"):
        # score from the full doc universe: feature-less docs (empty /
        # all-OOV text) surface with a bias-only logit instead of being
        # silently absent from the published score table
        score_logreg_fp(
            feats, spark.read.parquet(cfg["weights_out"]),
            docs=df.select(F.col(id_col).alias("doc")),
        ).select(
            F.col("doc").alias(id_col), "logit_fp"
        ).write.mode("overwrite").parquet(cfg["scores_out"])
        out["scores_out"] = cfg["scores_out"]
    print(json.dumps(out))
    return 0


def cmd_profile(cfg: dict) -> int:
    """One-pass column profiling report (the analyzer a pipeline runs
    before choosing join keys / partition columns / constraint
    thresholds). Config:

        {"input": "/root/testdata/sf0.001", "table": "orders",
         "columns": ["o_custkey", "o_orderstatus"]}   # default: all

    Prints one JSON line: per-column row/null/exact-distinct counts."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import (
        profile_columns,
    )

    spark = get_spark(app_name="profile")
    table = cfg.get("table", "documents")
    df = load_table(spark, cfg["input"], table)
    cols = cfg.get("columns") or list(df.columns)
    rows = profile_columns(df, cols).collect()
    print(json.dumps({
        "table": table,
        "profile": [
            {"column": r["column"], "n_rows": r["n_rows"],
             "n_null": r["n_null"], "n_distinct": r["n_distinct"]}
            for r in rows
        ],
    }))
    return 0


def cmd_drift(cfg: dict) -> int:
    """Two-cohort drift report: Kolmogorov-Smirnov + Mann-Whitney (with
    Cliff's delta) over one numeric column split into two cohorts — the
    'did this source/batch change under me' check as one CLI call. Config:

        {"input": "/root/testdata/sf0.001", "table": "documents",
         "value": "n_chars",
         "split": {"column": "source",
                   "a_values": ["src0", "src1"]}}   # b = the rest

    Prints one JSON line with both statistics; exit code 1 when the KS
    distance exceeds ``threshold_fp`` (default 100000 = 0.1) — the
    scriptable gate."""
    from pyspark.sql import functions as F

    from redshift_to_pendo_api_data_pipeline_spark.operators.stats import (
        ks_two_sample,
        mann_whitney_u,
    )

    spark = get_spark(app_name="drift")
    table = cfg.get("table", "documents")
    df = load_table(spark, cfg["input"], table)
    split = cfg["split"]
    a_vals = split["a_values"]
    base = df.select(
        F.col(split["column"]).isin(a_vals).cast("long").alias("grp"),
        F.col(cfg["value"]).cast("long").alias("v"),
    ).where(F.col("v").isNotNull())
    # guard the degenerate split BEFORE the statistics: if a_values
    # match nothing (or everything), ks_two_sample's d_fp divides by
    # n1*n2 = 0 — under Spark 4's ANSI mode that THROWS
    # DIVIDE_BY_ZERO instead of printing a report, and
    # mann_whitney_u's z likewise degenerates (r8 ADVICE).
    sizes = {
        r["grp"]: r["n"]
        for r in base.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_a, n_b = sizes.get(1, 0), sizes.get(0, 0)
    if n_a == 0 or n_b == 0:
        print(json.dumps({
            "error": "empty_cohort",
            "detail": (
                f"split {split['column']} isin {a_vals} produced"
                f" n_a={n_a}, n_b={n_b}; both cohorts must be"
                " non-empty for KS / Mann-Whitney"
            ),
        }))
        return 2
    ks = ks_two_sample(base, "grp", "v").collect()[0]
    mw = mann_whitney_u(base, "grp", "v").collect()[0]
    threshold_fp = int(cfg.get("threshold_fp", 100000))
    drifted = int(ks["d_fp"] >= threshold_fp)
    print(json.dumps({
        "table": table, "value": cfg["value"],
        "n_a": ks["n1"], "n_b": ks["n2"],
        "ks_d_fp": ks["d_fp"],
        "mw_z": mw["z_fp"], "cliffs_delta_fp": mw["cliffs_delta_fp"],
        "threshold_fp": threshold_fp, "drifted": drifted,
    }))
    return 1 if drifted else 0


def cmd_compact(cfg: dict) -> int:
    """Lake maintenance on a versioned table: compact the active version
    into `target_files` files (atomic pointer flip), optionally vacuum
    deactivated versions. Config:

        {"path": "/lake/tbl", "target_files": 8, "vacuum": true}

    Prints one JSON line: old/new version ids, file counts, dropped
    versions."""
    from redshift_to_pendo_api_data_pipeline_spark.sink import parquet_sink as PS
    from redshift_to_pendo_api_data_pipeline_spark.staging import fs_list_files

    spark = get_spark(app_name="compact")
    path = cfg["path"]
    old_v = PS.active_version(path)

    def _n_files(version: int) -> int:
        files = fs_list_files(spark, f"{path}/version={version}")
        return sum(f.endswith(".parquet") for f, _, _ in files)

    files_before = _n_files(old_v)
    new_v = PS.compact_active_version(
        spark, path, target_files=int(cfg.get("target_files", 1))
    )
    report = {
        "path": path,
        "old_version": old_v,
        "new_version": new_v,
        "files_before": files_before,
        "files_after": _n_files(new_v),
        "n_rows": PS.read_active(spark, path).count(),
    }
    if cfg.get("vacuum"):
        report["vacuumed_versions"] = PS.vacuum(path)
    print(json.dumps(report))
    return 0


def cmd_diff(cfg: dict) -> int:
    """CDC between two versions of a versioned table. Config:

        {"path": "/lake/tbl", "key": "id", "v_old": 1, "v_new": 2,
         "output": "/tmp/delta"}        # output optional

    Writes the INSERT/UPDATE/DELETE delta as parquet when `output` is
    given; prints one JSON line with per-op counts either way."""
    from pyspark.sql import functions as F

    from redshift_to_pendo_api_data_pipeline_spark.sink import parquet_sink as PS

    spark = get_spark(app_name="diff")
    diff = PS.version_diff(
        spark, cfg["path"], cfg["key"], int(cfg["v_old"]), int(cfg["v_new"])
    )
    if cfg.get("output"):
        diff.write.mode("overwrite").parquet(cfg["output"])
        diff = spark.read.parquet(cfg["output"])
    counts = {r["op"]: r["n"] for r in
              diff.groupBy("op").agg(F.count(F.lit(1)).alias("n")).collect()}
    print(json.dumps({
        "path": cfg["path"], "v_old": int(cfg["v_old"]),
        "v_new": int(cfg["v_new"]),
        "inserts": counts.get("INSERT", 0),
        "updates": counts.get("UPDATE", 0),
        "deletes": counts.get("DELETE", 0),
        **({"output": cfg["output"]} if cfg.get("output") else {}),
    }))
    return 0




def cmd_reconcile(cfg: dict) -> int:
    """Source<->sink reconciliation: fingerprint two parquet tables
    (quality.table_fingerprint — count + order-independent checksum +
    key bounds) and report whether every row landed. The audit the
    reference workflow needs after each sync and never had: two
    aggregation passes, one JSON verdict, no row ever leaves its side.

    Config: {"left": path, "right": path, "keys": [col, ...]}.
    Exit code 0 on match, 3 on mismatch (scriptable gate)."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.quality import table_fingerprint

    spark = get_spark(app_name="reconcile")
    keys = list(cfg["keys"])
    sides = {}
    for side in ("left", "right"):
        df = spark.read.parquet(cfg[side])
        sides[side] = table_fingerprint(df, keys).first().asDict()
    match = (
        sides["left"]["n_rows"] == sides["right"]["n_rows"]
        and sides["left"]["checksum"] == sides["right"]["checksum"]
    )
    print(json.dumps({
        "match": match, "keys": keys,
        "left": sides["left"], "right": sides["right"],
    }))
    return 0 if match else 3


def cmd_mine(cfg: dict) -> int:
    """Constraint mining over synced parquet tables: candidate keys
    (single + pair uniqueness, linkage.candidate_keys — up to three
    scans per table: the row count, a singles pass and a
    remaining-pairs pass, each a digest explode + dedup-count) and
    inclusion dependencies (linkage.inclusion_dependencies — mined
    FKs with containment ppm).
    The discovery step the reference reads from information_schema
    (tap-redshift/src/discover.py) but a constraint-free warehouse
    cannot provide — so we mine it from the data itself.

    Config: {"tables": {name: parquet_path, ...},
             "key_columns": {table: [col, ...], ...},        # optional
             "fk_candidates": [["tbl.col", "tbl.col"], ...]}  # optional
    Emits one JSON report; exit 0."""
    from redshift_to_pendo_api_data_pipeline_spark.operators.linkage import (
        candidate_keys,
        inclusion_dependencies,
    )

    spark = get_spark(app_name="mine")
    tables = {n: spark.read.parquet(p) for n, p in cfg["tables"].items()}
    report: dict = {}
    for tname, cols in cfg.get("key_columns", {}).items():
        rows = candidate_keys(tables[tname], list(cols)).collect()
        report.setdefault("candidate_keys", {})[tname] = [
            r.asDict() for r in rows
        ]
    cands = []
    for child, parent in cfg.get("fk_candidates", []):
        ct, cc = child.split(".", 1)
        pt, pc = parent.split(".", 1)
        cands.append((child, tables[ct], cc, parent, tables[pt], pc))
    if cands:
        report["inclusion_dependencies"] = [
            r.asDict() for r in inclusion_dependencies(cands).collect()
        ]
    print(json.dumps(report, sort_keys=True))
    return 0


def cmd_export(cfg: dict) -> int:
    """End-to-end TRAINING-DATA EXPORT — the capstone composition of the
    curation, mixing, and packing families: documents go through (1)
    Gopher repetition + quality rule gates, (2) exact dedup, (3)
    water-filling per-source token allocation realized as nested
    deterministic hash samples, (4) concatenate-then-chop sequence
    packing, and land as curated parquet + a JSON manifest (per-stage
    attrition, per-source allocation, packing stats) a training run can
    audit. Every stage is an operator certified elsewhere in the
    registry; this command is pure composition.

    Config: {"input": dir, "table": "documents", "output": dir,
             "text_col": "text", "id_col": "doc_id",
             "source_col": "source",
             "budget_ppm": 500000,      # share of post-filter tokens
             "seq_budget": 2048,        # tokens per packed sequence
             "min_words": 50,           # gopher word-count floor
             "min_stopwords": 2}        # gopher stopword-hits floor
    """
    from pyspark.sql import functions as F

    from redshift_to_pendo_api_data_pipeline_spark.operators.dedup import normalize_text
    from redshift_to_pendo_api_data_pipeline_spark.operators.sampling import (
        hash_bucket,
        pack_sequences,
        rate_to_hex_threshold,
        waterfill_allocation,
    )
    from redshift_to_pendo_api_data_pipeline_spark.operators.text import (
        gopher_quality_rules,
        gopher_repetition,
    )

    spark = get_spark(app_name="export")
    text_col = cfg.get("text_col", "text")
    id_col = cfg.get("id_col", "doc_id")
    source_col = cfg.get("source_col", "source")
    seq_budget = int(cfg.get("seq_budget", 2048))
    budget_ppm = int(cfg.get("budget_ppm", 500_000))
    df = load_table(spark, cfg["input"], cfg.get("table", "documents"))
    manifest: dict = {"input_docs": df.count()}

    # 1. rule gates (zero-shuffle flags + the 9-gram repetition pass)
    rep_pass = gopher_repetition(df, text_col, id_col).where(
        F.col("passes_repetition") == 1
    ).select(id_col)
    qual_pass = gopher_quality_rules(
        df, text_col, id_col,
        min_words=int(cfg.get("min_words", 50)),
        min_stopword_hits=int(cfg.get("min_stopwords", 2)),
    ).where(F.col("keep") == 1).select(id_col)
    gated = (
        df.join(rep_pass.hint("shuffle_hash"), id_col)
        .join(qual_pass.hint("shuffle_hash"), id_col)
    )
    manifest["after_rules"] = gated.count()

    # 2. exact dedup (keep min id per normalized digest)
    keep = (
        gated.select(
            F.col(id_col),
            F.md5(normalize_text(F.col(text_col))).alias("__d"),
        )
        .groupBy("__d").agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    deduped = gated.join(keep.hint("shuffle_hash"), id_col)
    manifest["after_dedup"] = deduped.count()

    # 3. water-filling allocation -> per-source nested hash samples
    alloc_rows = waterfill_allocation(
        deduped, text_col, source_col, budget_ppm_of_total=budget_ppm
    ).collect()  # source-bounded sidecar
    # NULL source forms its own allocation group; surface it under an
    # explicit manifest key and match it with eqNullSafe below so the
    # realized sample agrees with the allocation (a plain == predicate
    # is never true for NULL and would silently drop those docs).
    manifest["allocation"] = {
        (r["source"] if r["source"] is not None else "__null_source__"):
        {"cap": r["cap"], "allocated": r["allocated"],
         "take_rate_ppm": r["take_rate_ppm"]}
        for r in alloc_rows
    }
    rate_expr = None
    for r in alloc_rows:
        th = rate_to_hex_threshold(r["take_rate_ppm"] / 1_000_000)
        cond = F.col(source_col).eqNullSafe(F.lit(r["source"])) & (
            hash_bucket(F.col(id_col).cast("string"), "export-v1")
            < F.lit(th)
        )
        rate_expr = cond if rate_expr is None else rate_expr | cond
    sampled = deduped.where(rate_expr) if rate_expr is not None else deduped
    manifest["after_sampling"] = sampled.count()

    # 4. pack into fixed-budget sequences (per-source strata)
    with_tokens = sampled.withColumn(
        "__n_tokens",
        F.size(F.split(normalize_text(F.col(text_col)), " ")).cast("long"),
    )
    packed = pack_sequences(
        with_tokens, id_col, "__n_tokens", source_col, seq_budget
    )
    packed.write.mode("overwrite").parquet(cfg["output"])
    out = spark.read.parquet(cfg["output"])
    manifest["packed_docs"] = out.count()
    manifest["n_sequences"] = out.select(source_col, "seq_id").distinct().count()
    manifest["total_tokens"] = out.agg(
        F.sum("__n_tokens").cast("long")
    ).collect()[0][0]
    manifest["seq_budget"] = seq_budget
    manifest["output"] = cfg["output"]
    print(json.dumps(manifest, sort_keys=True))
    return 0


class SqlParseError(Exception):
    """The user's SQL failed to PARSE (typo), as distinguished from an
    internal JVM/bridge failure during the read-only plan walk."""


def _parsed_plan_is_query(spark, stmt: str) -> bool:
    """True iff the statement parses to a pure query plan: no node in
    the parsed logical tree is a Catalyst Command or an insert/write
    statement. Walking the parsed tree (not the statement text) is
    what closes the CTE-prologue hole — 'WITH t AS (SELECT 1)
    INSERT OVERWRITE DIRECTORY ...' text-starts with WITH but parses
    to an InsertInto* node under the CTE wrapper.

    Raises SqlParseError for a syntactically invalid statement — a
    typo is a PARSE error, not a read-only-policy rejection, and the
    caller must report it as such. Failures in the reflection / plan
    walk AFTER a successful parse (JVM bridge trouble, not the user's
    SQL) propagate unchanged so they are never mislabeled as the
    user's mistake."""
    try:
        plan = (
            spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)
        )
    except Exception as exc:  # narrow to the PARSER's own failure
        jexc = getattr(exc, "java_exception", None)
        is_parse = jexc is not None and "ParseException" in (
            jexc.getClass().getName()
        )
        try:
            from pyspark.errors import ParseException as _PyParseExc

            is_parse = is_parse or isinstance(exc, _PyParseExc)
        except ImportError:
            pass
        if is_parse:
            raise SqlParseError(str(exc)) from exc
        raise
    jvm = spark.sparkContext._jvm
    command_iface = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.Command"
    )
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if (
            command_iface.isInstance(node)
            or "Insert" in name
            or "Command" in name
            or "Write" in name
        ):
            return False
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return True


def cmd_sql(cfg: dict) -> int:
    """Ad-hoc SQL over the configured parquet tables — the interactive
    surface a warehouse user reaches for first: every configured table
    registers as a temp view, the statement runs through spark.sql
    (full Catalyst: pushdown, pruning, AQE), and rows stream out as
    JSON lines. SELECT-shaped statements only — this is a query
    surface, not a mutation path.

    Config: {"tables": {name: parquet_path, ...},
             "sql": "SELECT ...",
             "max_rows": 1000}   # optional driver-side cap, default 1000

    Exit 0; rows beyond max_rows are truncated with a trailing
    {"truncated": true} marker so a capped report never silently poses
    as a complete one."""
    stmt = cfg["sql"]
    if not stmt.lstrip().lower().startswith(("select", "with")):
        print(json.dumps({"error": "only SELECT/WITH statements"}))
        return 2
    max_rows = int(cfg.get("max_rows", 1000))
    spark = get_spark(app_name="sql")
    # the prefix check above is only a cheap pre-filter: Spark SQL
    # accepts a CTE prologue before DML ('WITH t AS (...) INSERT ...'),
    # so the real gate walks the PARSED plan and rejects any
    # command/write node anywhere in the tree; a PARSE failure is a
    # distinct outcome (typo, not policy) and reports the parser's
    # own message instead of a misleading read-only rejection
    try:
        is_query = _parsed_plan_is_query(spark, stmt)
    except SqlParseError as exc:
        detail = str(exc).splitlines()[0] if str(exc) else "parse error"
        print(json.dumps({"error": "parse error", "detail": detail}))
        return 2
    if not is_query:
        print(json.dumps({"error": "only read-only query statements"}))
        return 2
    for name, path in cfg["tables"].items():
        spark.read.parquet(path).createOrReplaceTempView(name)
    out = spark.sql(stmt)
    rows = out.limit(max_rows + 1).collect()
    for r in rows[:max_rows]:
        print(json.dumps(r.asDict(), sort_keys=True, default=str))
    if len(rows) > max_rows:
        print(json.dumps({"truncated": True, "max_rows": max_rows}))
    return 0


def main(argv: list[str] | None = None) -> int:
    commands = {
        "discover": (cmd_discover, "emit catalog JSON (tap -d parity)"),
        "sync": (cmd_sync, "sync all configured streams"),
        "curate": (
            cmd_curate, "run the corpus-curation funnel, write curated parquet"
        ),
        "profile": (cmd_profile, "one-pass column profiling report"),
        "drift": (cmd_drift, "two-cohort KS/MW drift report (exit 1 on drift)"),
        "classify": (
            cmd_classify, "train the learned quality filter, publish weights"
        ),
        "compact": (cmd_compact, "compact the active version of a versioned table"),
        "diff": (cmd_diff, "INSERT/UPDATE/DELETE delta between two table versions"),
        "reconcile": (cmd_reconcile, "fingerprint-compare two tables (sync audit)"),
        "mine": (cmd_mine, "mine candidate keys + inclusion deps (FKs)"),
        "sql": (cmd_sql, "run ad-hoc SQL over configured tables (JSON lines)"),
        "export": (
            cmd_export, "rules -> dedup -> waterfill -> pack training export"
        ),
    }
    ap = argparse.ArgumentParser(prog="redshift_to_pendo_api_data_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name, (_, help_) in commands.items():
        sp = sub.add_parser(name, help=help_)
        sp.add_argument("-c", "--config", required=True)
        if name == "sync":
            sp.add_argument("-s", "--state", default=None)
    args = ap.parse_args(argv)
    cfg = json.loads(open(args.config).read())
    if args.cmd == "sync":
        return cmd_sync(cfg, args.state)
    return commands[args.cmd][0](cfg)


if __name__ == "__main__":
    raise SystemExit(main())
