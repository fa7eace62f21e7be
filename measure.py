#!/usr/bin/env python
"""Query measurement harness.

Times individual catalog queries with the bench's exact methodology
(noop sink, min-of-N, warm JVM) and optionally captures
``explain("formatted")`` per query into a plans directory.  Usage:

    python measure.py [--runs N] [--sf DIR] [--plans SUFFIX]
                      [--plans-dir DIR] q145 q149 ...

``--plans before`` writes <plans-dir>/<name>_before.txt; ``--plans
after`` the _after variant; omit to skip plan capture.  ``--plans-dir``
defaults to ``plans/`` next to this script (``plans/r14`` and
``plans/r15`` hold earlier captures).  Prints one JSON line per query
so partial runs still leave usable numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import registry
from hospital_data_engineering_pipeline_end_to_end_project_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None, help="before|after: capture explain into --plans-dir")
    ap.add_argument(
        "--plans-dir",
        default=os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans"),
        help="directory the --plans captures are written to",
    )
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="measure", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # JVM warm-up, mirrors bench.py; derived from the measured SF's
    # sibling layout rather than a hardcoded fixture path — fall back
    # to the measured dir itself when no smaller sibling exists
    warm_dir = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf
    qs["q01_pricing_summary"](spark, warm_dir).count()

    plans_dir = args.plans_dir
    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)

    for name in args.names:
        if name not in qs:
            cand = [k for k in qs if k.split("_", 1)[0] == name]
            if len(cand) != 1:
                print(json.dumps({"query": name, "error": "unknown"}))
                continue
            name = cand[0]
        ts = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if args.plans:
            df = qs[name](spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as fh:
                fh.write(txt)
        print(json.dumps({"query": name, "min": min(ts), "runs": ts}))

    spark.stop()


if __name__ == "__main__":
    main()
