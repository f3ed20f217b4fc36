"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,ingest} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, one closed-loop client,
Spark at ``local[4]``. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. The line
before it is a detail record (sample counts, percentiles used, every
operation's own figures). Everything the run writes lives under
``.perfbench/`` in the checkout; the document-pool cache there
survives runs, the per-run directory does not.

``--docs`` changes the base corpus size (default ``inputs.BASE_DOCS``);
the benchmark's recorded figures all use the default.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "job_searchengine_project_spark")
CORES = 4
DRIVER_MEM = "3g"  # the JVM holds driver and executors at local[4]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("search", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Environment for this process, its Spark JVM, the JVM's Python
    workers and the corpus generator. Must run before pyspark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # the JVM's Python workers import the engine by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return dict(os.environ)


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                # the default codec is zstd, and no zstandard module is
                # installed to read it back
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"perfbench: engine package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        env = pin_environment(run_dir)
        from perfbench import inputs, workloads

        base_docs = args.docs or inputs.BASE_DOCS
        pool_dir = inputs.ensure_pool(os.path.join(work, "corpus"), base_docs, env)
        meta = inputs.prepare_run_isolated(
            pool_dir, args.seed, base_docs, os.path.join(run_dir, "input"), env
        )
        result = workloads.run(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            run_dir=run_dir,
            meta=meta,
            conf=spark_conf(run_dir, bool(args.trace)),
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result["detail"], sort_keys=True))
    print(json.dumps(result["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
