#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract_read --seed 0 \\
        --seconds 10 --trace 0

Run from the repository root. The inputs are generated from ``--seed``; the
warm draws repeat for ``--seconds``; every output is checked against an
independent oracle outside the timed sections. The last line of standard
output is one JSON object::

    {"correct": true, "attempted": 12, "failed": 0,
     "metrics": {"setup_s": {"value": 5.9, "unit": "s"}, ...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, read
from Spark's status store after every action (a layer that the workload
does not run reports 0). The line before it holds the host facts. Details
and the trace's spans are written under ``.perfbench/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_env(work: str) -> None:
    """Point Spark, its JVM and its Python workers at this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # keep every stage and execution of a run readable
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    # no hsperfdata file, which each JVM (the launcher's too) would write
    # under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args.append(f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                "-XX:-UsePerfData'")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or "unknown"


def host_facts(run) -> dict:
    import pyarrow
    import pyspark
    return {
        "nproc": os.cpu_count(),
        "cores_usable": len(os.sched_getaffinity(0)),
        "cores_used": run.cores,
        "workload": run.workload, "seed": run.seed,
        "seconds": run.seconds, "trace": int(run.trace),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_commit": git_commit(),
        **run.facts,
    }


def result(run, spec: dict) -> dict:
    from hostspeed import slowdown
    from summary import median
    slow = slowdown(run.speed)
    if run.trace:
        values = {**run.layers, "host.slowdown": slow,
                  "failed_share": run.failed / max(run.attempted, 1)}
    else:
        # every end-to-end metric is a time; each reads in seconds of
        # the calm host
        raw = {"setup_s": median([c.cpu_s for c in run.setups]),
               **run.e2e}
        values = {k: v / slow for k, v in raw.items()}
    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    names = {m["name"] for m in wanted}
    unknown = set(values) - names
    if unknown:
        raise ValueError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in wanted},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="local[N] of the measured session (default: nproc)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "paddleocr_spark",
                                       "__init__.py")):
        print(f"perfbench: no paddleocr_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if args.seconds <= 0 or args.cores < 1 or args.seed < 0:
        ap.error("--seconds and --cores must be positive, --seed >= 0")

    sys.path.insert(0, ROOT)
    import jvm
    from workloads import WORKLOADS, Run

    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(OUT_DIR, f"work-{tag}-{os.getpid()}")
    os.makedirs(work)
    run = Run(ROOT, work, args.workload, args.seed, args.seconds,
              bool(args.trace), args.cores)
    try:
        spark_env(work)
        WORKLOADS[args.workload](run)
        facts = host_facts(run)
    finally:
        jvm.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    out = result(run, spec)
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump({"host": facts, "result": out,
                   "setups": [c._asdict() for c in run.setups],
                   "speed": run.speed, "e2e_unscaled": run.e2e,
                   "failures": run.failures, "details": run.details}, f,
                  indent=1)
    if run.trace:
        run.tracer.write(os.path.join(OUT_DIR, f"{tag}.spans.json"))
    for what in run.failures:
        print(f"perfbench: check failed: {what}", file=sys.stderr)
    print(json.dumps({"host": facts}))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
