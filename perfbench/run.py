#!/usr/bin/env python3
"""Benchmark entry point (see BENCHMARK.json at the checkout root).

    python3 perfbench/run.py --workload tag_folder --seed 7 --seconds 20 --trace 0

Runs one workload on ``local[nproc]`` from a single closed-loop client,
checks every output outside the timed region, and prints one JSON report
line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics. Each run works in its own directory under ``.perfbench/`` in the
checkout (Spark local dirs, staging root, working directory, generated
inputs) and removes it at the end; the oracle digest cache and the span
files of traced runs stay in ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PACKAGE = "cl_tagger_batch_processing_spark"


def process_age_s() -> float:
    """Seconds since this process started (start time from /proc, in
    clock ticks since boot)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tag_folder", "query_multijob"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(root: str) -> None:
    """Give this run its own staging root, Spark local dirs, temp dir and
    working directory (which also places spark-warehouse), and put the
    package on the Python workers' path."""
    for sub in ("staging", "spark-local", "tmp", "work"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["CL_TAGGER_STAGING_DIR"] = os.path.join(root, "staging")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
    paths = [CHECKOUT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [CHECKOUT, HERE]
    os.chdir(os.path.join(root, "work"))


def source_version() -> str:
    """The git commit when the checkout is a repository, else a digest of
    the package sources."""
    try:
        out = subprocess.run(
            ["git", "-C", CHECKOUT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(CHECKOUT, PACKAGE))):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:16]


def metadata(spark, args, run_id: str, cpus: int) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "commit": source_version(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    for needed in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tests", "oracle_harness.py")):
        if not os.path.exists(os.path.join(CHECKOUT, needed)):
            print(f"perfbench: {needed} not found under {CHECKOUT}", file=sys.stderr)
            return 2
    run_id = f"{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}-{os.getpid()}-s{args.seed}"
    state = os.path.join(CHECKOUT, ".perfbench")
    root = os.path.join(state, "runs", run_id)
    isolate(root)

    import sparkctl
    import workloads

    import cl_tagger_batch_processing_spark.registry  # noqa: F401 — import cost belongs to set-up

    cpus = len(os.sched_getaffinity(0))
    run = workloads.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        root=root,
        cache_dir=state,
        cpus=cpus,
        import_s=process_age_s(),
    )
    try:
        workloads.WORKLOADS[args.workload](run)
        meta = metadata(run.spark, args, run_id, cpus)
        peak_mb = sparkctl.jvm_peak_rss_mb()
    finally:
        sparkctl.shutdown(run.spark)
        shutil.rmtree(root, ignore_errors=True)

    setup = {
        "value": run.setup_s,
        "unit": "s",
        "import_s": run.import_s,
        "start_s": run.start_s,
        "warmup_s": run.warmup_s,
    }
    share = run.failed / run.attempted if run.attempted else 1.0
    report = {
        **meta,
        "setup_s": setup,
        "failed_share": {"value": share, "unit": "ratio", "attempted": run.attempted, "failed": run.failed},
        **run.report,
        "failures": run.failures,
    }
    if args.trace:
        layers = workloads.per_layer_values(run, peak_mb)
        metrics = {k: {"value": v, "unit": workloads.PER_LAYER[k]} for k, v in layers.items()}
        spans_file = os.path.join(state, "traces", f"{run_id}.json")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        with open(spans_file, "w") as f:
            json.dump(run.tracer.to_json(), f)
        report["spans_file"] = os.path.relpath(spans_file, CHECKOUT)
    else:
        metrics = {"setup_s": {"value": setup["value"], "unit": "s"}}
        for k, v in run.metrics.items():
            metrics[k] = {"value": v["value"], "unit": v["unit"]}
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and run.attempted > 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
