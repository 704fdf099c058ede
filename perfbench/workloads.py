"""The three workloads: one closed-loop client each.

``sync_catchup`` replicates the visitor table into the mock API: the
initial load, then one ``run_sync`` per appended delta. ``registry_build``
and ``registry_exec`` run a fixed list of registry queries in seeded order,
pass after pass, each query timed from the builder call to the finished
noop write. Outputs are checked outside the timed part: each sync cycle
right after it returns, each registry query's latest result after the
window closes.
"""

from __future__ import annotations

import datetime as dt
import glob
import io
import json
import os
import random
import subprocess
import sys
import time
import urllib.request
from contextlib import redirect_stdout

import datagen
from mock_api import planted_reject
from measure import Tracer, dur, self_value

# Chosen from a measured build/exec split (README.md, "Workloads").
REGISTRY_QUERIES = {
    "registry_build": ("sf0.01", (
        "q9_product_profit",      # 5 load_table calls, a schema job each
        "q10_returned_items",     # 4 load_table calls
        "entity_name_clusters",   # 10 eager jobs in the builder
        "simhash_neardup",        # stages signatures to the lake, ~1k py4j calls
    )),
    "registry_exec": ("sf0.1", (
        "q1_pricing_summary",     # scan + wide aggregate
        "q18_large_orders",       # two shuffled joins, large result
        "bpe_merge_pairs",        # token explode + shuffle
        "q3_shipping_priority",   # three-way join, top-k
        "q4_priority_exists",     # semi-join
    )),
}

# Untimed passes of the query list before the window opens. Pass time falls
# as the JIT compiles the planner's hot paths: on an idle 4-core host one run
# took 11.3 s, 4.1 s and 3.7 s for the first three passes, then 3.6 s falling
# slowly to 3.1 s by the seventeenth. Three passes take the steep part of
# that slope out of the window and leave the window room in the run budget;
# five did not narrow the spread between runs. At sf0.1 execution dominates
# and two passes suffice.
REGISTRY_WARM_PASSES = {"registry_build": 3, "registry_exec": 2}
# The initial load (17 POSTs) and the first delta cycle warm the JVM (JIT,
# codegen, Python workers) and the sink's Python workers. They are checked
# like every cycle, but the window opens after them.
SYNC_WARM_OPS = 2
# Service time of one POST: a 500-record batch at the ~2,500 records/s per
# sink connection that the reference sustains (BASELINE.md, rebuild targets).
MOCK_SERVICE_MS = 200.0
BATCH_RECORDS = 500


class OpLog:
    """Per-operation outcomes of one run."""

    def __init__(self, ops_per_pass: int = 1) -> None:
        self.latency: list[float] = []
        self.names: list[str] = []
        self.traced: list[bool] = []
        self.layers: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.passes = 0
        self.ops_per_pass = ops_per_pass
        # sync_catchup only: acknowledged records and run_sync seconds over
        # the untraced window cycles, and the mock's counters per cycle
        self.records: int | None = None
        self.sync_s = 0.0
        self.initial_load_s = 0.0
        self.mock: list[dict] = []
        self.check_s = 0.0  # untimed output checks after the window

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


def _rest_stages(ctx, stage_ids: list[int]) -> list[dict]:
    """Last attempt of each stage from the Spark UI's REST API."""
    from tools.profile_queries import _rest

    out = []
    for sid in stage_ids:
        try:
            attempts = _rest(ctx.ui_port, f"applications/{ctx.app_id}/stages/{sid}")
        except OSError:
            continue
        if attempts:
            out.append(attempts[0])
    return out


def _stage_seconds(stage: dict) -> float:
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    try:
        a = dt.datetime.strptime(stage["submissionTime"], fmt)
        b = dt.datetime.strptime(stage["completionTime"], fmt)
    except (KeyError, ValueError):
        return 0.0
    return (b - a).total_seconds()


# --------------------------------------------------------------------------
# registry workloads


def _oracle_sql(entry, name: str, stage_dir: str) -> str:
    # The oracle SQL names the default staging root of the correctness
    # fixture; point it at this run's staged relations instead.
    return entry.oracle_sql()[name].replace(entry._STAGE, stage_dir)


class Registry:
    def __init__(self, ctx, workload: str) -> None:
        import __spark_entry__ as entry

        self.ctx, self.entry = ctx, entry
        scale, names = REGISTRY_QUERIES[workload]
        self.data_dir = ctx.data_dir(scale)
        self.names = list(names)
        self.warm_passes = REGISTRY_WARM_PASSES[workload]
        self.fns = entry.queries()
        self.rng = random.Random(ctx.seed)
        self.warm_pass_s: list[float] = []  # reported, to show the warm-up slope
        self._duck = None
        from redshift_to_pendo_api_data_pipeline_spark.staging import stage_dir
        self.stage_dir = stage_dir(self.data_dir)

    def warm_up(self) -> None:
        """Untimed passes of the query list, so the timed passes find
        codegen, JIT and Python workers warm."""
        for _ in range(self.warm_passes):
            t0 = time.perf_counter()
            for name in self.names:
                df = self.fns[name](self.ctx.spark, self.data_dir)
                df.write.format("noop").mode("overwrite").save()
            self.warm_pass_s.append(time.perf_counter() - t0)

    def _check(self, name: str, df, log: OpLog) -> None:
        """Compare one result with the DuckDB oracle (rows, columns and the
        order-insensitive value hash of the correctness gate)."""
        import duckdb
        from tools.check_oracle import value_hash

        if self._duck is None:
            self._duck = duckdb.connect()
            for f in sorted(glob.glob(f"{self.data_dir}/*.parquet")):
                t = os.path.basename(f)[: -len(".parquet")]
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        got = df.toPandas()
        want = self._duck.execute(_oracle_sql(self.entry, name, self.stage_dir)).df()
        if (len(got) != len(want) or sorted(got.columns) != sorted(want.columns)
                or value_hash(got) != value_hash(want)):
            log.fail(f"{name}: result differs from oracle "
                     f"({len(got)} rows vs {len(want)})")

    def run(self, seconds: float, tr: Tracer) -> OpLog:
        log = OpLog(len(self.names))
        spark = self.ctx.spark
        real_load = self.entry.load_table
        if tr.enabled:
            def traced_load(spark_, sf_dir, name):
                with tr.span("load_table", op):
                    return real_load(spark_, sf_dir, name)
            self.entry.load_table = traced_load
        t_end = time.perf_counter() + seconds
        op, n_pass = 0, 0
        last = {}  # each query's DataFrame from its latest operation
        try:
            while time.perf_counter() < t_end or (tr.enabled and n_pass < 2):
                order = self.names[:]
                self.rng.shuffle(order)
                tr.active = tr.enabled and n_pass % 2 == 1
                for name in order:
                    op += 1
                    log.attempted += 1
                    t_op = time.time()
                    try:
                        with tr.span("query", op) as q:
                            t0 = time.perf_counter()
                            with tr.span("build", op):
                                df = self.fns[name](spark, self.data_dir)
                            with tr.span("exec", op):
                                df.write.format("noop").mode("overwrite").save()
                            lat = time.perf_counter() - t0
                    except Exception as e:  # noqa: BLE001 - a failed query is a failed op
                        log.fail(f"{name}: {type(e).__name__}: {e}"[:300])
                        continue
                    log.latency.append(lat)
                    log.traced.append(q is not None)
                    log.names.append(name)
                    if q is not None:
                        log.layers.append(self._layers(tr, op, df, t_op))
                    last[name] = df
                n_pass += 1
                log.passes = n_pass
        finally:
            self.entry.load_table = real_load
            tr.active = False
        # Checked after the window closes, so the oracle's DuckDB threads
        # and the result collection never overlap a timed operation.
        t0 = time.perf_counter()
        for name, df in last.items():
            try:
                self._check(name, df, log)
            except Exception as e:  # noqa: BLE001
                log.fail(f"{name}: check raised {type(e).__name__}: {e}"[:300])
        log.check_s = time.perf_counter() - t0
        return log

    def _layers(self, tr: Tracer, op: int, df, t_op: float) -> dict:
        from tools.dump_plans import _plan_stats

        spans = tr.op_spans(op)
        build = next(s for s in spans if s["name"] == "build")
        ex = next(s for s in spans if s["name"] == "exec")
        loads = [s for s in spans if s["name"] == "load_table"]
        exec_jobs = tr.jobs(ex)
        stages = _rest_stages(self.ctx, tr.stage_ids(exec_jobs))
        buf = io.StringIO()
        with tr.quiet(), redirect_stdout(buf):
            df.explain("formatted")
        plan = _plan_stats(buf.getvalue())
        return {
            "sources.load_table_calls": len(loads),
            "sources.load_table_s": sum(dur(s) for s in loads),
            "sources.load_table_jobs": sum(len(tr.jobs(s)) for s in loads),
            "operators.build_s": self_value(spans, build, "dur"),
            "operators.build_py4j_calls": self_value(spans, build, "py4j"),
            "operators.build_jobs": len(tr.jobs(build)),
            "exec.s": dur(ex),
            "exec.jobs": len(exec_jobs),
            "exec.stages": len(stages),
            "exec.tasks": sum(s.get("numTasks", 0) for s in stages),
            "exec.single_task_stage_s": sum(
                _stage_seconds(s) for s in stages if s.get("numTasks") == 1),
            "exec.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "exec.python_edges": plan["py_edges"],
            "exec.exchanges": plan["exchanges"],
            "staging.bytes_written": _bytes_written_since(self.stage_dir, t_op),
        }


def _bytes_written_since(root: str, t0: float) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except OSError:
                continue
            if st.st_mtime >= t0:
                total += st.st_size
    return total


# --------------------------------------------------------------------------
# sync_catchup


class MockApi:
    """The mock Pendo API in its own process."""

    def __init__(self, seed: int, threads: int) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "mock_api.py"), "--seed", str(seed),
             "--service-ms", str(MOCK_SERVICE_MS), "--threads", str(threads)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.port = int(self.proc.stdout.readline())
        self.base_url = f"http://127.0.0.1:{self.port}"

    def drain(self) -> dict:
        with urllib.request.urlopen(f"{self.base_url}/_bench/drain", timeout=60) as r:
            return json.loads(r.read())

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


class SyncInputs:
    """Generated before the clock starts: source directory, allowlist and
    the mock API process."""

    def __init__(self, ctx) -> None:
        self.src = datagen.SyncSource(ctx.seed)
        root = os.path.join(ctx.run_dir, "sync")
        self.table_dir = os.path.join(root, f"{datagen.SYNC_TABLE}.parquet")
        os.makedirs(self.table_dir)
        self.root = root
        self.allow_path = os.path.join(root, "allowlist.parquet")
        datagen.write_table(self.src.allowlist, self.allow_path)
        self.n_files = 0
        self.pending = [self._append(self.src.initial)]
        self.mock = MockApi(ctx.seed, ctx.nproc)

    def _append(self, delta: datagen.Delta) -> datagen.Delta:
        path = os.path.join(self.table_dir, f"part-{self.n_files:05d}.parquet")
        datagen.write_table(delta.table, path)
        self.n_files += 1
        return delta

    def next(self) -> datagen.Delta:
        if self.pending:
            return self.pending.pop()
        return self._append(self.src.next_delta())

    def close(self) -> None:
        self.mock.close()


class SyncCatchup:
    def __init__(self, ctx, inputs: SyncInputs) -> None:
        from redshift_to_pendo_api_data_pipeline_spark.plans.state import State
        from redshift_to_pendo_api_data_pipeline_spark.schema import StreamSpec

        self.ctx, self.inp = ctx, inputs
        self.stream = StreamSpec(
            name=datagen.SYNC_TABLE, primary_key=datagen.PK,
            replication_method="INCREMENTAL", replication_key=datagen.RK,
            field_mappings={datagen.PK: "visitorId"},
        )
        self.state = State()
        self.allow = ctx.spark.read.parquet(inputs.allow_path)

    def warm_up(self) -> None:
        """Nothing beyond the probe: the warm-up cycles are checked
        operations, so they run inside ``run``."""

    def run(self, seconds: float, tr: Tracer) -> OpLog:
        from pyspark.sql import functions as F
        from redshift_to_pendo_api_data_pipeline_spark.plans.sync import run_sync
        from redshift_to_pendo_api_data_pipeline_spark.sink.http_sink import (
            SinkConfig, sink_dataframe)
        from redshift_to_pendo_api_data_pipeline_spark.sources.tables import load_table

        spark, mock = self.ctx.spark, self.inp.mock
        cfg = SinkConfig(base_url=mock.base_url, stream_name=self.stream.name,
                         max_records=BATCH_RECORDS)
        log = OpLog()
        log.records = 0
        log.passes = 1
        op = 0
        t_end = None  # the window opens after the warm-up operations
        while (op <= SYNC_WARM_OPS or time.perf_counter() < t_end
               or (tr.enabled and op < SYNC_WARM_OPS + 4)):
            if op == SYNC_WARM_OPS:
                t_end = time.perf_counter() + seconds
            delta = self.inp.next()
            op += 1
            log.attempted += 1
            tr.active = tr.enabled and op % 2 == 0
            out: dict = {}

            def sink(shaped, op=op, out=out):
                with tr.span("sink", op) as sk:
                    flat = shaped.select(F.col("id"), "values.*")
                    rows = sink_dataframe(flat, cfg).collect()
                if sk is not None:
                    # the cached plan the sink job ran; read after run_sync
                    with tr.quiet():
                        out["plan"] = shaped._jdf.queryExecution().executedPlan()
                out["failed"] = [json.loads(p)["id"]
                                 for r in rows for p in r["failed_payloads"]]
                out["total"] = sum(r["total"] for r in rows)
                return out["total"]

            try:
                with tr.span("cycle", op) as cyc:
                    with tr.span("load_table", op):
                        df = load_table(spark, self.inp.root, datagen.SYNC_TABLE)
                    t0 = time.perf_counter()
                    with tr.span("run_sync", op):
                        res = run_sync(spark, df, self.stream, self.state, sink,
                                       allowlist=self.allow)
                    lat = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 - a failed sync is a failed op
                log.fail(f"cycle {op}: {type(e).__name__}: {e}"[:300])
                mock.drain()
                continue
            stats = mock.drain()
            log.mock.append(stats)
            if op == 1:
                log.initial_load_s = lat
            if op > SYNC_WARM_OPS:
                log.latency.append(lat)
                log.traced.append(cyc is not None)
                log.names.append(f"cycle{op}")
                if cyc is None:
                    log.sync_s += lat
                    log.records += len(stats["acked"])
            problem = _check_cycle(delta, res, out, stats, self.ctx.seed)
            if problem:
                log.fail(f"cycle {op}: {problem}")
            if cyc is not None and op > SYNC_WARM_OPS:
                log.layers.append(self._layers(tr, op, out, stats))
        tr.active = False
        return log

    def _layers(self, tr: Tracer, op: int, out: dict, stats: dict) -> dict:
        spans = tr.op_spans(op)
        rs = next(s for s in spans if s["name"] == "run_sync")
        sk = next(s for s in spans if s["name"] == "sink")
        ld = next(s for s in spans if s["name"] == "load_table")
        rs_jobs = tr.jobs(rs)
        emitted = len(stats["acked"]) + len(out.get("failed", []))
        with tr.quiet():
            read = _scan_rows(out["plan"], self.inp.table_dir)
        batches = max(stats["batches"], 1)
        return {
            "sources.load_table_calls": 1,
            "sources.load_table_s": dur(ld),
            "sources.load_table_jobs": len(tr.jobs(ld)),
            "plans.run_sync_jobs": len(rs_jobs),
            "plans.non_sink_s": dur(rs) - dur(sk),
            "extract.rows_read_per_record": read / max(emitted, 1),
            "sink.s": dur(sk),
            "sink.posts": stats["posts"],
            "sink.retries": stats["posts"] - stats["batches"],
            "sink.records_per_post": stats["records"] / batches,
            "sink.bytes_per_record": stats["bytes"] / max(stats["records"], 1),
            "sink.quarantined": len(out.get("failed", [])),
        }


def _scan_rows(plan, table_dir: str) -> int:
    """Rows the file scans of ``table_dir`` produced in an executed physical
    plan: its Parquet row groups that survived the pushed-down filters.
    Walks into adaptive plans, query stages and cached relations, so the
    scans that fed a cached DataFrame count; scans of other tables (the
    allowlist) do not."""
    want = os.path.abspath(table_dir)
    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            if any(str(roots.apply(i)).rstrip("/").endswith(want)
                   for i in range(roots.size())):
                total += node.metrics().apply("numOutputRows").value()
        elif kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def _check_cycle(delta: datagen.Delta, res, out: dict, stats: dict, seed: int) -> str | None:
    """Acknowledged plus reported-failed ids equal the expected set; the
    failed ids are exactly the planted rejects; the bookmark is the
    expected maximum of ``last_updated``."""
    acked, failed = set(stats["acked"]), set(out.get("failed", []))
    if len(acked) != len(stats["acked"]):
        return "a record was acknowledged twice"
    if acked & failed or acked | failed != delta.expected_ids:
        return (f"acked {len(acked)} + failed {len(failed)} != expected "
                f"{len(delta.expected_ids)}")
    planted = {i for i in delta.expected_ids if planted_reject(seed, i)}
    if failed != planted or set(stats["rejected"]) != planted:
        return f"failed ids {len(failed)} != planted rejects {len(planted)}"
    if res.record_count != len(delta.expected_ids):
        return f"record_count {res.record_count} != {len(delta.expected_ids)}"
    if res.bookmark != delta.expected_bookmark.isoformat():
        return f"bookmark {res.bookmark} != {delta.expected_bookmark.isoformat()}"
    return None
