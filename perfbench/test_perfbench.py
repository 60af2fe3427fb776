"""The benchmark's own tests: seeded inputs, metric names and units, job
attribution by job-id window, memo discovery, and the run contract."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import datagen
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

# per-layer metrics the traced run must report
LAYER_METRICS = [
    "session.start_s", "session.warmup_s", "session.jvm_peak_rss_mb",
    "images.scan_s", "images.files_listed", "pipeline.build_s",
    "kernels.decode_s", "kernels.score_s", "kernels.rows", "tagging.select_s",
    "sinks.sidecar_s", "sinks.parquet_s", "sinks.files_written",
    "build_s.graph", "build_jobs.graph", "exec_s.relational", "exec_jobs",
    "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "exec.cpu_s", "exec.run_s", "failed_tasks",
    "checkpoint.rdds", "checkpoint.bytes", "memo.cold", "memo.warm",
    "stream.jobs", "trace.overhead_s",
]  # fmt: skip


def _folder_bytes(root: str, seed: int) -> dict[str, bytes]:
    out = {}
    for folder in datagen.make_folders(root, seed, 3, 16, 64):
        for dirpath, _, files in os.walk(folder.path):
            for name in files:
                path = os.path.join(dirpath, name)
                with open(path, "rb") as f:
                    out[os.path.relpath(path, root)] = f.read()
    return out


def test_folders_follow_the_seed(tmp_path):
    a = _folder_bytes(str(tmp_path / "a"), 3)
    b = _folder_bytes(str(tmp_path / "b"), 3)
    c = _folder_bytes(str(tmp_path / "c"), 4)
    assert a == b
    assert a != c


def test_folder_contents(tmp_path):
    folders = datagen.make_folders(str(tmp_path), 5, 6, 20, 1500)
    sizes = sorted(f.n_images for f in folders)
    assert 20 <= sizes[0] < 40 and 900 < sizes[-1] <= 1500
    images = [rel for f in folders for rel in f.images]
    suffixes = {os.path.splitext(rel)[1][1:] for rel in images}
    assert any(s.isupper() for s in suffixes) and any(s.islower() for s in suffixes)
    assert any("/" in rel for rel in images)
    truncated = sum(len(f.truncated) for f in folders)
    assert 0 < truncated < 0.03 * len(images)
    for f in folders:
        bases = [os.path.splitext(os.path.basename(r))[0] for r in f.images]
        assert len(bases) == len(set(bases))
        assert f.n_other > 0


def test_tables_follow_the_seed():
    a = datagen.build_tables(0.001, seed=1)
    b = datagen.build_tables(0.001, seed=1)
    c = datagen.build_tables(0.001, seed=2)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_query_order_follows_the_seed():
    a = workloads.ordered_queries(11)
    assert a == workloads.ordered_queries(11)
    assert a != workloads.ordered_queries(12)
    assert sorted(a) == sorted(workloads.MULTIJOB_QUERIES)


def test_queries_cover_every_module_layer():
    from cl_tagger_batch_processing_spark.oracles import ORACLE_SQL
    from cl_tagger_batch_processing_spark.registry import QUERIES

    names = workloads.MULTIJOB_QUERIES
    assert len(names) == len(set(names)) and set(names) <= set(ORACLE_SQL)
    labels = {workloads.module_label(workloads.defining_module(n, QUERIES[n])) for n in names}
    assert labels == set(workloads.MODULE_LABELS)


def test_tail_percentile():
    t = workloads.tail([float(i) for i in range(100)])
    assert t == {"value": 89.0, "percentile": 90.0, "n": 100, "beyond": 10}
    assert workloads.tail([1.0, 2.0])["beyond"] == 0


def test_metric_names_and_units():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "pass_s", "item_geomean_s"}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER
    for name in LAYER_METRICS:
        assert name in workloads.PER_LAYER, name
    for label in workloads.MODULE_LABELS:
        for prefix, unit in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s")):
            assert workloads.PER_LAYER[f"{prefix}.{label}"] == unit


def _window_and_group(spark, sf_dir, name):
    from cl_tagger_batch_processing_spark.registry import QUERIES

    counters = tracing.SparkCounters(spark)
    with tracing.JobWindow(counters, f"test:{name}") as window:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    figs = window.figures()
    return figs["jobs"], figs["group_jobs"]


def test_job_window_matches_group_for_a_plain_query(spark, sf_dir):
    jobs, group = _window_and_group(spark, sf_dir, "tag_select")
    assert jobs == group > 0


@pytest.mark.parametrize("name", ["graph_hits", "stream_stream_join", "stream_watchlist_cms"])
def test_job_window_sees_jobs_the_group_misses(spark, sf_dir, name):
    jobs, group = _window_and_group(spark, sf_dir, name)
    assert jobs > group


def test_memo_counter_finds_memos_by_key_contract(spark, sf_dir):
    import sparkctl
    from cl_tagger_batch_processing_spark.registry import QUERIES

    memos = tracing.MemoCounter()
    assert {"sources.tables._TABLE_PLAN_CACHE", "operators.similarity._INTRINSIC_CAND_CACHE"} <= set(memos.dicts)
    # a fresh application: the memos of the session fixture's one no longer apply
    fresh = sparkctl.new_application(spark, 2)
    memos.set_application(fresh.sparkContext.applicationId)
    before = memos.snapshot()
    QUERIES["tag_select"](fresh, sf_dir)
    cold = memos.snapshot()
    QUERIES["tag_select"](fresh, sf_dir)
    warm = memos.snapshot()
    assert cold[0] > before[0]
    assert warm[0] == cold[0] and warm[1] > cold[1]
    assert "sources.tables._TABLE_PLAN_CACHE" in memos.memo_dicts()


def _run(args, cwd, timeout):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "tag_folder", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path, 120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.mark.parametrize("trace", ["0", "1"])
def test_tag_folder_run_reports_every_metric(trace):
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = _run(["--workload", "tag_folder", "--seed", "3", "--seconds", "1", "--trace", trace], CHECKOUT, 600)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    wanted = bench["per_layer"] if trace == "1" else bench["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in wanted}
    report = json.loads(out.stdout.strip().splitlines()[-2])["report"]
    for key in ("nproc", "ram_gb", "driver_heap", "pyspark", "java", "duckdb", "commit", "seed", "run_id"):
        assert report[key] not in (None, "")
    for key in ("images_per_s", "folder_p50_s", "folder_tail_s", "failed_share", "setup_s"):
        assert "unit" in report[key]
