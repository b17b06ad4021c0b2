"""Dump ``.explain("formatted")`` for named registry queries.

Plan evidence for optimization write-ups: each plan claim is backed by
a committed ``<out>/<query>_{before,after}.txt`` produced by this
script, run once on the old tree and once on the new one.

Usage::

    python scripts/plan_dump.py --out plans/r12 before q202_ivf_probe_sweep q218_bootstrap_mean
    python scripts/plan_dump.py --out plans/r12 after  q202_ivf_probe_sweep

``--out`` is relative to the repository root. Reads the tables from
``bench.SF_DIR`` ($SPARK_GRAFT_SF_DIR, default sf0.1) so the captured
plan is the bench's plan. Missing arguments print the usage and exit 2.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Dump formatted physical plans for registry queries."
    )
    ap.add_argument("--out", required=True, help="output dir, e.g. plans/r12")
    ap.add_argument("tag", choices=("before", "after"))
    ap.add_argument("queries", nargs="+", metavar="query")
    args = ap.parse_args()

    from bench import SF_DIR
    from airbnb_pyspark_jobs_spark.plans import QUERIES
    from airbnb_pyspark_jobs_spark.session import get_spark

    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    out_dir = os.path.join(REPO, args.out)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plan_dump_{args.tag}", profile="local")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.queries:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count("Exchange")
        joins = [
            j
            for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
            if j in plan
        ]
        py = [
            p
            for p in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas")
            if p in plan
        ]
        print(f"{name}: {len(plan)} chars, Exchange x{n_exch}, joins={joins}, py={py}")
    spark.stop()


if __name__ == "__main__":
    main()
