"""Per-query stage-level profiler (guide §1.1 empirical loop).

Runs the named registry queries through the noop sink with the Spark UI
enabled, then pulls the REST stage API so each query's wall time can be
attributed to stages: task time, shuffle read/write bytes, input bytes,
task counts. Usage:

    SPARK_GRAFT_UI=1 python tools/profile_queries.py q1 q2 ...

Writes /tmp/profile_queries.json and prints a per-query summary.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from redshift_to_pendo_api_data_pipeline_spark.session import get_spark, sf_dir
from redshift_to_pendo_api_data_pipeline_spark.staging import complete_stages


def _rest(app_port: int, path: str):
    url = f"http://localhost:{app_port}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main(*names: str) -> None:
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    data_dir = sf_dir()
    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])
    app_id = spark.sparkContext.applicationId

    qs = entrymod.queries()
    if names:
        qs = {k: v for k, v in qs.items() if k in names}

    # staged queries reuse a run-unique root, mirroring bench.py
    import shutil

    stage_root = f"/tmp/spark_graft_stage_prof_{os.getpid()}"
    os.environ["SPARK_GRAFT_STAGE_ROOT"] = stage_root
    os.environ["SPARK_GRAFT_STAGE_REUSE"] = "1"

    # warm-up (mirrors bench.py): codegen + python-worker forks at sf0.001
    warm_dir = os.path.join(os.path.dirname(data_dir.rstrip("/")), "sf0.001")
    for name, fn in qs.items():
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    def _timed(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out = {}
    for name, fn in qs.items():
        jobs_before = {j["jobId"] for j in _rest(port, f"applications/{app_id}/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        # staged when the first run wrote a stage (mirrors bench.py): the
        # cold run then stays out of the median
        n_stages = complete_stages(stage_root)
        samples = [_timed(fn)]
        staged = complete_stages(stage_root) > n_stages
        samples += [_timed(fn) for _ in range(3 if staged else 2)]
        spark.sparkContext.setJobDescription(None)
        timed = samples[1:] if staged else samples
        median = sorted(timed)[len(timed) // 2]

        jobs = [
            j for j in _rest(port, f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        stages = []
        all_stages = {s["stageId"]: s for s in _rest(port, f"applications/{app_id}/stages")}
        for sid in stage_ids:
            s = all_stages.get(sid)
            if not s:
                continue
            stages.append({
                "stageId": sid,
                "name": s.get("name", "")[:90],
                "numTasks": s.get("numTasks"),
                "executorRunTime_ms": s.get("executorRunTime"),
                "executorCpuTime_ms": (s.get("executorCpuTime") or 0) // 1_000_000,
                "inputBytes": s.get("inputBytes"),
                "shuffleReadBytes": s.get("shuffleReadBytes"),
                "shuffleWriteBytes": s.get("shuffleWriteBytes"),
                "pythonEval": "Python" in s.get("details", "") or "python" in s.get("name", ""),
            })
        out[name] = {
            "samples_sec": [round(x, 4) for x in samples],
            "median_sec": round(median, 4),
            "n_jobs": len(jobs),
            "n_stages": len(stage_ids),
            "stages": stages,
        }
        big = sorted(stages, key=lambda s: -(s["executorRunTime_ms"] or 0))[:4]
        print(f"{name}: median {median:.3f}s, {len(jobs)} jobs, {len(stage_ids)} stages")
        for s in big:
            print(
                f"    stage {s['stageId']:>4} run={s['executorRunTime_ms']:>7}ms "
                f"cpu={s['executorCpuTime_ms']:>7}ms tasks={s['numTasks']:>3} "
                f"in={s['inputBytes']:>10} sr={s['shuffleReadBytes']:>9} "
                f"sw={s['shuffleWriteBytes']:>9}  {s['name'][:60]}"
            )

    os.environ.pop("SPARK_GRAFT_STAGE_ROOT", None)
    os.environ.pop("SPARK_GRAFT_STAGE_REUSE", None)
    shutil.rmtree(stage_root, ignore_errors=True)
    out_path = os.environ.get("PROFILE_OUT", "/tmp/profile_queries.json")
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main(*sys.argv[1:])
