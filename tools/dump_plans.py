"""Regenerate PLANS.json: the mechanical counts over every registry
query's formatted physical plan at sf0.001 — the evidence behind
SCALE.md's claims (pushdown reaches the scan, joins broadcast where
intended, aggregations partial-combine, Python appears only at the
declared edges).

    python tools/dump_plans.py

``tests/test_plans.py``'s registry sweep recomputes every count with the
same ``plan_stats`` helper and fails on any difference from the committed
file, so a plan change lands together with a rerun of this script and a
CHANGES.md line saying why. This script builds the sweep's session
(``local[4]``, 4 shuffle partitions) whatever the host's core count:
``lpa_copurchase_communities`` picks its broadcast build side from
staged-file size estimates, which vary with the core count.

What to look for in a query's plan (``df.explain("formatted")``):
``PushedFilters``/``ReadSchema`` on scans (pushdown + pruning),
``BroadcastHashJoin`` on dimension joins, ``partial_*`` aggregate modes
before each ``Exchange``, ``TakeOrderedAndProject`` for top-k, and
``ArrowEvalPython``/``MapInPandas`` appearing ONLY in the declared
Python-edge operators. Plans are the *initial* AQE plans
(``isFinalPlan=false``); AQE may further coalesce partitions or convert
to broadcast at runtime. Staged pipelines show their PROBE-phase plan:
the stage-build plans execute eagerly before the frame is returned.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from redshift_to_pendo_api_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
PLANS_JSON = os.path.join(ROOT, "PLANS.json")

# pandas/Arrow exec nodes: ArrowEvalPython, BatchEvalPython, MapInPandas,
# MapInArrow, FlatMapGroupsInPandas, FlatMapCoGroupsInArrow, ...
_PY_NODE = r"\w*(?:Python|InPandas|InArrow)\w*"


def _plan_stats(plan: str) -> dict:
    """Mechanical counts over one formatted plan — the per-query scale
    profile SCALE.md's prose claims, in machine-checkable form."""

    def count(node: str) -> int:
        # formatted-mode detail headers: "(13) Exchange" — one per node
        # (the tree spells the same node "Exchange (13)", so matching the
        # header form avoids double counting)
        return len(re.findall(rf"^\(\d+\) {node}\b", plan, re.M))

    return {
        "exchanges": count("Exchange"),
        "bcast_joins": count("BroadcastHashJoin") + count("BroadcastNestedLoopJoin"),
        "bnlj": count("BroadcastNestedLoopJoin"),
        "shj": count("ShuffledHashJoin"),
        "smj": count("SortMergeJoin"),
        "cartesian": count("CartesianProduct"),
        "sort_aggregate": count("SortAggregate"),
        "scans": count("Scan parquet"),
        "py_edges": count(_PY_NODE),
        "batch_eval_python": count("BatchEvalPython"),
    }


def plan_stats(df) -> dict:
    """``_plan_stats`` of the text ``df.explain("formatted")`` prints."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return _plan_stats(buf.getvalue())


def main() -> None:
    spark = get_spark(app_name="dump-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    stats = {name: plan_stats(fn(spark, SF_DIR))
             for name, fn in entrymod.queries().items()}
    # sorted, one query per line: a plan change is a one-line diff
    rows = ",\n".join(f"    {json.dumps(n)}: {json.dumps(stats[n], sort_keys=True)}"
                      for n in sorted(stats))
    with open(PLANS_JSON, "w") as f:
        f.write(f'{{\n  "queries": {{\n{rows}\n  }},\n'
                f'  "sf": {json.dumps(os.path.basename(SF_DIR))}\n}}\n')
    print(f"wrote {PLANS_JSON} ({len(stats)} queries)")


if __name__ == "__main__":
    main()
