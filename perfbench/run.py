"""Repository benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload sync_catchup --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/.work`` before the clock starts; the run then starts its own
Spark session on ``local[nproc]``, warms it up with the pinned probe, runs
the workload for ``--seconds`` and checks every operation's output.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, measured on every
other operation with the other half left untraced, so the difference is
the tracing overhead. The line before it is a JSON report: host record,
probe, per-workload metric aliases, failures, and (traced)
the path of the span file. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402 - the clock above must start first
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("sync_catchup", "registry_build", "registry_exec")

# Median of the pinned probe (bench._probe_df over the generated sf0.01
# lineitem, noop write) on an idle 4-core, 15 GB x86_64 host. A run whose
# probe exceeds it by PROBE_CONTENDED_FACTOR, or whose window lost more than
# STEAL_CONTENDED of the host's CPU time to the hypervisor, is flagged as
# contended.
PROBE_IDLE_S = 0.25
PROBE_CONTENDED_FACTOR = 1.5
STEAL_CONTENDED = 0.05

END_TO_END = (("setup_s", "s"), ("op_s_p50", "s"), ("throughput_per_s", "1/s"))
PER_LAYER = (
    ("session.get_spark_s", "s"), ("session.peak_rss_mb", "MB"),
    ("sources.load_table_calls", "count"), ("sources.load_table_s", "s"),
    ("sources.load_table_jobs", "count"),
    ("operators.build_s", "s"), ("operators.build_py4j_calls", "count"),
    ("operators.build_jobs", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.single_task_stage_s", "s"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.python_edges", "count"),
    ("exec.exchanges", "count"),
    ("staging.bytes_written", "bytes"),
    ("plans.run_sync_jobs", "count"), ("plans.non_sink_s", "s"),
    ("extract.rows_read_per_record", "ratio"),
    ("sink.s", "s"), ("sink.posts", "count"), ("sink.retries", "count"),
    ("sink.records_per_post", "count"), ("sink.bytes_per_record", "bytes"),
    ("sink.max_inflight_posts", "count"), ("sink.quarantined", "count"),
    ("sink.peak_calls_per_300s", "count"),
    ("trace.overhead_op_s", "s"),
)
RUN_LEVEL = {"session.get_spark_s", "session.peak_rss_mb", "sink.max_inflight_posts",
             "sink.peak_calls_per_300s", "trace.overhead_op_s"}


class Context:
    """What one run shares across its phases."""

    def __init__(self, seed: int, run_dir: str) -> None:
        self.seed = seed
        self.nproc = len(os.sched_getaffinity(0))
        self.run_dir = run_dir  # deleted when the run ends
        self.spark = None
        self.ui_port = None
        self.app_id = None

    def data_dir(self, scale: str) -> str:
        """Registry tables at ``scale``, generated once per checkout."""
        import datagen

        d = os.path.join(WORK, "data", f"v{datagen.GENERATOR_VERSION}", scale)
        if not os.path.exists(os.path.join(d, "_DONE")):
            tmp = f"{d}.tmp{os.getpid()}"
            datagen.write_registry(scale, tmp)
            open(os.path.join(tmp, "_DONE"), "w").close()
            shutil.rmtree(d, ignore_errors=True)  # a half-written earlier copy
            os.rename(tmp, d)
        return d


def _isolate_env(run_dir: str, trace: bool) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_STAGE_ROOT"] = os.path.join(run_dir, "stage")
    os.environ.pop("SPARK_GRAFT_STAGE_REUSE", None)  # stage cold every run
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"  # the REST stage API needs the UI


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM's children."""
    from measure import descendants
    from pyspark import SparkContext

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    kids = descendants(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while any(os.path.exists(f"/proc/{p}") for p in kids):
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _gc_totals(spark) -> tuple[int, float]:
    """Collections and seconds spent in them by the driver JVM so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return (sum(b.getCollectionCount() for b in beans),
            sum(b.getCollectionTime() for b in beans) / 1000.0)


def _query_medians(log, traced: bool) -> list[float]:
    """Each registry query's median latency over the traced or the
    untraced operations of a run."""
    from statistics import median

    by_name: dict[str, list[float]] = {}
    for n, x, t in zip(log.names, log.latency, log.traced):
        if t == traced:
            by_name.setdefault(n, []).append(x)
    return [median(v) for v in by_name.values()]


def _summarise(log, trace: bool, extra: dict) -> tuple[dict, dict, dict]:
    """End-to-end and per-layer metric values of one run."""
    from statistics import median

    from measure import tail

    lat = [x for x, t in zip(log.latency, log.traced) if not t]
    tlat = [x for x, t in zip(log.latency, log.traced) if t]
    p_tail, v_tail = tail(lat)
    named = {}
    if log.records is not None:  # sync_catchup
        e2e = {"op_s_p50": median(lat), "throughput_per_s": log.records / log.sync_s}
        named.update(sync_initial_load_s=(log.initial_load_s, "s"),
                     sync_records_per_s=(e2e["throughput_per_s"], "rec/s"),
                     sync_run_s_p50=(e2e["op_s_p50"], "s"),
                     sync_run_s_tail=(v_tail, "s"))
        overhead = median(tlat) - median(lat) if tlat else 0.0
    else:
        # Summarise each query on its own first, so the figures do not
        # depend on how many samples of which query a window happened to
        # hold: one pass of the list costs the sum of the query medians.
        q_med = _query_medians(log, traced=False)
        mix_wall_s = sum(q_med) * log.ops_per_pass / len(q_med)
        e2e = {"op_s_p50": median(q_med), "throughput_per_s": log.ops_per_pass / mix_wall_s}
        named.update(mix_wall_s=(mix_wall_s, "s"),
                     query_s_p50=(e2e["op_s_p50"], "s"),
                     query_s_tail=(v_tail, "s"))
        t_med = _query_medians(log, traced=True)
        overhead = median(t_med) - median(q_med) if t_med else 0.0
    named["op_failed_ratio"] = (log.failed / max(log.attempted, 1), "ratio")
    extra.update(tail_percentile=p_tail, samples=len(lat))
    layer = {}
    if trace:
        names = [n for n, _ in PER_LAYER if n not in RUN_LEVEL]
        for n in names:
            vals = [rec.get(n, 0) for rec in log.layers]
            layer[n] = sum(vals) / len(vals) if vals else 0.0
        layer["sink.max_inflight_posts"] = max(
            (m["max_inflight"] for m in log.mock), default=0)
        layer["sink.peak_calls_per_300s"] = max(
            (m["peak_calls_per_300s"] for m in log.mock), default=0)
        layer["trace.overhead_op_s"] = overhead
        extra.update(traced_samples=len(tlat))
    return e2e, layer, named


def run_one(args) -> int:
    if not (os.path.exists(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "redshift_to_pendo_api_data_pipeline_spark"))):
        print(f"perfbench: the program is not next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    _isolate_env(run_dir, bool(args.trace))
    ctx = Context(args.seed, run_dir)

    # untimed: inputs and the mock API
    t_prep = time.perf_counter()
    import workloads

    probe_dir = ctx.data_dir("sf0.01")
    sync_inputs = None
    if args.workload == "sync_catchup":
        sync_inputs = workloads.SyncInputs(ctx)
    elif args.workload in workloads.REGISTRY_QUERIES:
        ctx.data_dir(workloads.REGISTRY_QUERIES[args.workload][0])
    prep_s = time.perf_counter() - t_prep

    spark = None
    try:
        import bench
        from statistics import median

        from measure import RssSampler, Tracer, cpu_ticks, host_record
        from redshift_to_pendo_api_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{ctx.nproc}]")
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        rss = RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid()).start()
        probe = bench._probe_df(spark, probe_dir)
        probe.write.format("noop").mode("overwrite").save()
        t_warm = time.perf_counter()
        if sync_inputs is not None:
            wl = workloads.SyncCatchup(ctx, sync_inputs)
        else:
            wl = workloads.Registry(ctx, args.workload)
        wl.warm_up()
        t_ready = time.perf_counter()
        setup_s = t_ready - T_PROCESS - prep_s
        phases = {"start_s": t0 - T_PROCESS - prep_s, "get_spark_s": get_spark_s,
                  "probe_s": t_warm - t0 - get_spark_s, "warm_up_s": t_ready - t_warm}

        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            probe.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        probe_s = median(samples)
        host = host_record(spark, args.seed)
        host["probe_s"] = probe_s
        if args.trace:
            ctx.ui_port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])
            ctx.app_id = spark.sparkContext.applicationId

        tr = Tracer(spark, bool(args.trace))
        gc0, cpu0 = _gc_totals(spark), cpu_ticks()
        t_win = time.perf_counter()
        log = wl.run(float(args.seconds), tr)
        phases["run_s"] = time.perf_counter() - t_win - log.check_s
        phases["check_s"] = log.check_s
        gc1, cpu1 = _gc_totals(spark), cpu_ticks()
        tr.close()
        peak_rss_mb = rss.stop_mb()
        steal = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
        host.update(window_steal=steal,
                    contended=(probe_s > PROBE_IDLE_S * PROBE_CONTENDED_FACTOR
                               or steal > STEAL_CONTENDED))
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
        if sync_inputs is not None:
            sync_inputs.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    if log.failures:
        print("perfbench: failed operations:\n  " + "\n  ".join(log.failures),
              file=sys.stderr)
    if not log.latency:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    phases["stop_s"] = stop_s
    phases["warm_pass_s"] = getattr(wl, "warm_pass_s", [])
    extra = {"workload": args.workload, "host": host, "prep_s": prep_s, "phases": phases,
             "window_gc": {"count": gc1[0] - gc0[0], "s": gc1[1] - gc0[1]},
             "passes": log.passes, "attempted": log.attempted,
             "failed": log.failed, "failures": log.failures,
             "ops": [[n, round(x, 4), t] for n, x, t in
                     zip(log.names, log.latency, log.traced)]}
    e2e, layer, named = _summarise(log, bool(args.trace), extra)
    e2e["setup_s"] = setup_s
    named["peak_rss_mb"] = (peak_rss_mb, "MB")
    layer.update({"session.get_spark_s": get_spark_s, "session.peak_rss_mb": peak_rss_mb})
    extra["named"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    extra["end_to_end"] = e2e
    if args.trace:
        path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(tr.spans, fh)
        extra["spans_file"] = os.path.relpath(path, ROOT)
    metrics = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else e2e
    print(json.dumps(extra, default=str))
    print(json.dumps({
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in metrics},
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process, then one table of every metric."""
    rc = 0
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"{w}: failed with exit code {p.returncode}", file=sys.stderr)
            rc = 1
            continue
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        for name, m in {**result["metrics"], **report["named"]}.items():
            print(f"{w:15s} {name:30s} {m['value']:>14.6g} {m['unit']}")
        print(f"{w:15s} {'correct':30s} {str(result['correct']):>14s} "
              f"({result['failed']} failed of {result['attempted']})")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
