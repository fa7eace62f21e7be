"""Benchmark runner: one workload per process.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 5 --trace 0

Runs from the repository root.  Everything the run writes (inputs, Spark
warehouse and local dirs, event logs, the engine's scratch store, JVM and
Python temp files) lives in ``.perfbench_work/<workload>-<pid>/`` and is
removed when the run ends.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the environment.  ``--smoke`` runs a tiny input once, for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog", "medallion_incremental")


def _isolate(work: str) -> None:
    """Point every temp and scratch location of this process, the JVM
    and the Python workers into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)


def _stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the JVM to exit: it exits
    when its stdin closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    cores = min(2, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _isolate(work)
        import pyspark
        import workloads

        cfg = workloads.Config(
            workload=args.workload, seed=args.seed,
            seconds=0.0 if args.smoke else args.seconds, trace=bool(args.trace),
            cores=cores, work=work, smoke=args.smoke,
        )
        bench = workloads.make(cfg)
        result = bench.run()
        env = {
            "nproc": os.cpu_count(),
            "master": f"local[{cores}]",
            "shuffle_partitions": cores,
            "pyspark": pyspark.__version__,
            "java": bench.java,
            "python": platform.python_version(),
            "workload": args.workload,
            "seed": args.seed,
            "seconds": cfg.seconds,
            "trace": args.trace,
            "smoke": args.smoke,
            "pass_walls_s": [round(w, 3) for w in bench.pass_walls(scaled=False)],
            "pass_scales": [round(k, 4) for k in bench.scales()],
            "ops_s": {
                k: [round(s, 3) for s in v]
                for k, v in workloads.by_name((n, s) for _, n, s in bench.ops).items()
            },
            "refs_s": [round(s, 3) for _, s in bench.refs],
            "phases_s": bench.phases,
            "setups_s": [[round(a, 3), round(b, 3)] for a, b in bench.setups],
            "errors": bench.out.errors[:5],
        }
    finally:
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
