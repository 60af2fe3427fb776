"""Spark lifecycle for the benchmark: cold start, a fresh application in the
running JVM, and a full shutdown that waits for the JVM and its Python
workers to exit."""

from __future__ import annotations

import os
import signal
import subprocess
import time

APP_NAME = "perfbench"


def start(cpus: int):
    from cl_tagger_batch_processing_spark.session import get_spark

    return get_spark(app_name=APP_NAME, cpus=cpus)


def new_application(spark, cpus: int):
    """Stop the application and start another in the same JVM. The session
    memos are keyed by applicationId, so the program's own sweep drops
    them: the next consumer of each memo builds it again."""
    spark.stop()
    return start(cpus)


def _jvm_proc():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def jvm_pid() -> int | None:
    proc = _jvm_proc()
    return proc.pid if proc is not None else None


def jvm_peak_rss_mb() -> float:
    """Peak resident memory of the JVM (VmHWM), in MiB."""
    pid = jvm_pid()
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark=None, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM, and wait until the JVM and every process it
    started (the Python worker daemon and its workers) have exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = _jvm_proc()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits on EOF from its parent
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:  # a hung JVM is killed, never leaked
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10.0
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
