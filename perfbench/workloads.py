"""The workloads. Each is a closed loop: one client thread issues the next
folder or query only after the previous one returned.

* ``tag_folder`` — the reference's own flow, per folder:
  ``pipeline.tag_images(recursive=True)`` -> ``observe_status`` -> one sink,
  alternating by folder between ``write_sidecar_txt`` and
  ``write_tags_parquet``.
* ``query_multijob`` — a fixed list of registry queries
  (``MULTIJOB_QUERIES``, one per defining module) in seeded order,
  over the generated sf0.1 tables, each built and then written to the noop
  sink as ``bench.py`` does. Every pass runs in a new Spark application, so
  every pass starts with cold session memos.

A run repeats whole passes until ``--seconds`` have gone by (at least one
pass), so a faster program measures more passes of the same inputs rather
than different inputs. A traced run makes traced passes for half the time
and untraced passes for the rest; the difference between the two is the
tracing overhead.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import datagen
import sparkctl
import tracing

SF = 0.1

# query_multijob's queries, one per defining module. The figure after each
# is its build + execute seconds when run alone in a new application in a
# warm JVM (sf0.1, 4 cores, one run); the pass must stay short enough for a
# benchmark round to fit its time budget.
MULTIJOB_QUERIES = [
    # build-bound: the supersteps, checkpoints, memos and micro-batches.
    # A cheaper query of the module whose build time dominates, where the
    # module has one; else its median-cost query
    "graph_triangle_count",  # operators.graph, 2.7 + 0.3
    "dedup_simhash",  # operators.dedup, 2.3 + 0.1
    "embedding_intrinsic_dim",  # operators.similarity, 0.4 + 1.5; builds a session memo
    "corpus_temperature_mix",  # operators.curation, 0.1 + 0.3
    "layout_sorted_skipping",  # sources.layout, 0.7 + 0.1
    "stream_tumbling_counts",  # streaming.windows, 1.0 + 0.05
    "stream_user_totals",  # streaming.stateful, 3.7 + 0.1
    "pipeline_score_tag",  # the reference path, 4.8 + 1.7
    # execution-bound (table scans, joins, shuffles): a low-cost query of
    # each remaining module, so every per-module layer is measured
    "q10_returned_items",  # operators.relational, 0.3 + 0.5
    "text_lexical_diversity",  # operators.text, 0.3 + 0.2
    "percentiles_by_priority",  # functions.scalar, 0.1 + 0.7
    "mm_keyframe_select",  # operators.multimodal, 0.1 + 0.4
    "tag_top1_rating_quality",  # operators.tagging, 0.1 + 0.4
    "source_xml_roundtrip",  # sources.textfiles, 0.4 + 0.4
    "skew_salted_join",  # operators.skew, 0.1 + 0.4
]

# tag_folder: folders per pass and the size range they spread over
FOLDERS = 8
FOLDER_MIN, FOLDER_MAX = 16, 768
SINKS = ("sidecar", "parquet")
WARMUP_IMAGES = 24

MODULE_LABELS = [
    "relational", "text", "scalar", "multimodal", "tagging", "textfiles", "skew",
    "graph", "dedup", "similarity", "curation", "layout", "windows", "stateful",
    "pipeline",
]  # fmt: skip


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it; with
    fewer than eleven samples, the maximum (and ``beyond`` says so)."""
    s = sorted(values)
    n = len(s)
    i = max(n - 11, 0) if n >= 11 else n - 1
    return {"value": s[i], "percentile": round(100.0 * (i + 1) / n, 1), "n": n, "beyond": n - 1 - i}


def timing(values: list[float]) -> dict:
    return {"value": statistics.median(values), "unit": "s", "n": len(values)}


def geomean(values: list[float]) -> dict:
    """Geometric mean, as TPC-H's power metric takes it over query times:
    steadier than the median when item times are spread over orders of
    magnitude, and each item's relative change counts the same."""
    return {"value": statistics.geometric_mean(values), "unit": "s", "n": len(values)}


# ---------------------------------------------------------------------------
# query order
# ---------------------------------------------------------------------------


def defining_module(name: str, fn) -> str:
    """Module that defines a registry query, relative to the package.
    Thin wrappers in ``registry`` are charged to the module they call."""
    module = fn.__module__.split(".", 1)[1]
    if module == "registry":
        names = fn.__code__.co_names
        if "pipeline_score_tag" in names:
            return "pipeline"
        if "tagging" in names:
            return "operators.tagging"
    return module


def ordered_queries(seed: int) -> list[str]:
    """The workload's queries in seeded order. The order decides which
    consumer of each shared session memo builds it and which ride it."""
    rng = np.random.default_rng([seed, 2])
    return [str(n) for n in rng.permutation(MULTIJOB_QUERIES)]


def module_label(module: str) -> str:
    return module.rsplit(".", 1)[-1]


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str  # per-run directory
    cache_dir: str  # survives runs within one checkout
    cpus: int
    import_s: float  # process start until the program is imported
    spark: object = None
    setup_s: float = 0.0
    start_s: float = 0.0
    warmup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    tracer: tracing.Tracer = field(default_factory=tracing.Tracer)
    report: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.failures) < 20:
            self.failures.append(what[:300])

    def set_up(self, warmup) -> None:
        """One cold set-up: launch the JVM and ``get_spark``, then the
        warm-up. ``setup_s`` also carries the import time, so it spans
        process start to the first timed item."""
        t0 = time.perf_counter()
        self.spark = sparkctl.start(self.cpus)
        t1 = time.perf_counter()
        warmup(self.spark)
        t2 = time.perf_counter()
        self.start_s, self.warmup_s = t1 - t0, t2 - t1
        self.setup_s = self.import_s + t2 - t0


def _passes(run: Run, one_pass) -> tuple[list[float], list[float]]:
    """Repeat ``one_pass(traced)`` until the run's time is used (at least
    one pass of each kind); returns (untraced pass seconds, traced pass
    seconds). A traced run makes its traced passes first, for half the
    time, so any warm-up the set-up left lands on them: the tracing
    overhead it reports errs high, never low."""
    plain, traced = [], []
    t0 = time.perf_counter()
    while run.trace and (not traced or time.perf_counter() - t0 < run.seconds / 2):
        traced.append(one_pass(True))
    while not plain or time.perf_counter() - t0 < run.seconds:
        plain.append(one_pass(False))
    return plain, traced


def _span(run: Run, traced: bool, name: str, **attrs):
    return run.tracer.span(name, **attrs) if traced else contextlib.nullcontext()


def _add(layers: dict, key: str, value: float) -> None:
    layers[key] = layers.get(key, 0) + value


def _add_figures(layers: dict, figs: list[dict]) -> None:
    """Fold job-window figures (see ``tracing.JobWindow``) into the layers."""
    for fig in figs:
        for k in tracing.STAGE_FIELDS:
            _add(layers, k, fig[k])
        _add(layers, "jobs.window", fig["jobs"])
        _add(layers, "jobs.group", fig["group_jobs"])
        _add(layers, "stream.jobs", fig["stream_jobs"])


def _finish_layers(run: Run, plain: list[float], traced: list[float]) -> None:
    """Per traced pass, plus self times and the tracing overhead."""
    n = len(traced)
    run.layers = {k: v / n for k, v in run.layers.items()}
    for name, t in run.tracer.totals().items():
        run.layers[f"self_s.{name}"] = t["self_s"] / n
    run.layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)


# ---------------------------------------------------------------------------
# tag_folder
# ---------------------------------------------------------------------------


@dataclass
class FolderOp:
    folder: datagen.Folder
    sink: str
    out: str
    observed: dict
    timed: bool  # made in an untraced pass
    seconds: float


def run_tag_folder(run: Run) -> None:
    from cl_tagger_batch_processing_spark import pipeline
    from cl_tagger_batch_processing_spark.kernels.scoring import StubScorer
    from cl_tagger_batch_processing_spark.operators.tagging import demo_tag_dim
    from cl_tagger_batch_processing_spark.sources import sinks

    warm_folder = datagen.make_folders(
        os.path.join(run.root, "warmup"), run.seed, 1, WARMUP_IMAGES, WARMUP_IMAGES
    )[0]
    folders = datagen.make_folders(
        os.path.join(run.root, "input"), run.seed, FOLDERS, FOLDER_MIN, FOLDER_MAX
    )
    outputs = os.path.join(run.root, "output")

    def sink_call(sink: str, df, out: str) -> int:
        """Run one sink; returns the number of files it wrote."""
        if sink == "sidecar":
            return sinks.write_sidecar_txt(df, out)
        sinks.write_tags_parquet(df, out)
        return sum(f.endswith(".parquet") for f in os.listdir(out))

    def warmup(spark) -> None:
        # Python worker spawn and JIT of the scan, kernel and both sinks
        res, _ = pipeline.observe_status(
            pipeline.tag_images(spark, warm_folder.path, demo_tag_dim(spark), recursive=True, scorer=StubScorer())
        )
        for sink in SINKS:
            sink_call(sink, res, os.path.join(run.root, "warmup_out", sink))

    run.set_up(warmup)
    spark = run.spark
    dim = demo_tag_dim(spark)
    ops: list[FolderOp] = []
    layers = run.layers
    accs: dict = {}
    real_scan, real_select = pipeline.scan_images, pipeline.select_tags

    def traced_scan(spark_, folder, recursive=False):
        with run.tracer.span("images.scan"):
            df = real_scan(spark_, folder, recursive=recursive)
        _add(layers, "images.files_listed", len(df.inputFiles()))
        return df

    def traced_select(scores, tag_dim, **kw):
        # materialize the layer below before timing this one, so each span
        # holds its own layer's work
        with run.tracer.span("kernels.execute"):
            scores = scores.localCheckpoint(eager=True)
        with run.tracer.span("tagging.select"):
            return real_select(scores, tag_dim, **kw).localCheckpoint(eager=True)

    pass_no = itertools.count()

    def one_pass(traced: bool) -> float:
        p = next(pass_no)
        out_dir = os.path.join(outputs, f"pass{p}")
        counters = tracing.SparkCounters(spark) if traced else None
        if traced and not accs:
            sc = spark.sparkContext
            accs.update(decode=sc.accumulator(0.0), score=sc.accumulator(0.0), rows=sc.accumulator(0))
        total = 0.0
        for i, folder in enumerate(folders):
            sink = SINKS[i % 2]
            out = os.path.join(out_dir, os.path.basename(folder.path))
            scorer, decode = StubScorer(), None
            if traced:
                scorer = tracing.TimedScorer(scorer, accs["score"])
                decode = tracing.TimedDecode(pipeline.default_decode(), accs["decode"], accs["rows"])
                pipeline.scan_images, pipeline.select_tags = traced_scan, traced_select
            window = tracing.JobWindow(counters, f"pass{p}:folder{i}") if traced else contextlib.nullcontext()
            run.attempted += 1
            try:
                with window, _span(run, traced, "tag_folder.folder", folder=i, sink=sink):
                    t0 = time.perf_counter()
                    with _span(run, traced, "pipeline.build"):
                        res = pipeline.tag_images(
                            spark, folder.path, dim, recursive=True, scorer=scorer, decode=decode
                        )
                    res, obs = pipeline.observe_status(res)
                    with _span(run, traced, f"sinks.{sink}"):
                        written = sink_call(sink, res, out)
                    dt = time.perf_counter() - t0
                observed = obs.get
            except Exception as e:  # noqa: BLE001 — a failed folder is counted, the run goes on
                run.fail(f"{folder.path}: {type(e).__name__}: {e}")
                continue
            finally:
                pipeline.scan_images, pipeline.select_tags = real_scan, real_select
            if traced:
                _add(layers, "sinks.files_written", written)
                figs = window.figures()
                _add_figures(layers, [figs])
                _add(layers, "exec_jobs", figs["jobs"])
                rdds, size = counters.new_persistent_rdds()
                _add(layers, "checkpoint.rdds", rdds)
                _add(layers, "checkpoint.bytes", size)
            ops.append(FolderOp(folder, sink, out, observed, not traced, dt))
            total += dt
        return total

    plain, traced = _passes(run, one_pass)

    # checks, outside the timed region
    ref = checks.TagReference(dim.collect())
    for op in ops:
        problem = checks.check_counters(op.folder, op.observed)
        if problem is None:
            check = checks.check_sidecars if op.sink == "sidecar" else checks.check_parquet
            problem = check(op.folder, op.out, ref)
        if problem:
            run.fail(f"{op.folder.path} ({op.sink}): {problem}")

    timed = [op for op in ops if op.timed]
    folder_s = [op.seconds for op in timed]
    images = sum(int(op.observed["n_total"]) for op in timed)
    run.metrics.update(pass_s=timing(plain), item_geomean_s=geomean(folder_s))
    run.report.update(
        images_per_s={"value": images / sum(folder_s), "unit": "images/s", "n": images},
        folder_p50_s=timing(folder_s),
        folder_tail_s={**tail(folder_s), "unit": "s"},
        pass_s=timing(plain),
        folder_sizes=[f.n_images for f in folders],
        folder_s=folder_s,
    )
    if run.trace:
        totals = run.tracer.totals()
        # pipeline.build_s is tag_images' own time: the kernel and tagging
        # spans nest inside it in the traced run
        for key, span, kind in [
            ("images.scan_s", "images.scan", "total_s"),
            ("pipeline.build_s", "pipeline.build", "self_s"),
            ("kernels.execute_s", "kernels.execute", "total_s"),
            ("tagging.select_s", "tagging.select", "total_s"),
            ("sinks.sidecar_s", "sinks.sidecar", "total_s"),
            ("sinks.parquet_s", "sinks.parquet", "total_s"),
        ]:
            layers[key] = totals.get(span, {}).get(kind, 0.0)
        layers["kernels.decode_s"] = accs["decode"].value
        layers["kernels.score_s"] = accs["score"].value
        layers["kernels.rows"] = accs["rows"].value
        _finish_layers(run, plain, traced)


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------


def run_queries(run: Run) -> None:
    from cl_tagger_batch_processing_spark.oracles import ORACLE_SQL
    from cl_tagger_batch_processing_spark.registry import QUERIES
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    sf_dir = os.path.join(run.root, f"sf{SF}")
    data_fp = datagen.write_tables(sf_dir, SF)
    names = ordered_queries(run.seed)
    labels = {n: module_label(defining_module(n, QUERIES[n])) for n in names}

    def warmup(spark) -> None:
        # bench.py's warm-up (JVM classes, parquet reader, broadcast join
        # and window code paths) plus one Python worker per task slot
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark.range(1_000_000).selectExpr("sum(id)").collect()
        spark.range(run.cpus, numPartitions=run.cpus).mapInPandas(
            _identity_batches, "id long"
        ).write.format("noop").mode("overwrite").save()
        nation = load_table(spark, sf_dir, "nation")
        region = load_table(spark, sf_dir, "region")
        (
            nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .withColumn("rn", F.row_number().over(Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
            .groupBy("rn")
            .agg(F.collect_list(F.struct("n_name")).alias("xs"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    memos = tracing.MemoCounter() if run.trace else None
    run.set_up(warmup)
    cache = checks.OracleCache(
        os.path.join(run.cache_dir, "oracle_digests.json"), data_fp, os.environ["CL_TAGGER_STAGING_DIR"]
    )
    query_s: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    records: list[dict] = []

    def check(name: str, df) -> None:
        """Compare the DataFrame just timed with its oracle (untimed)."""
        try:
            problem = checks.compare_summaries(
                checks.spark_summary(df), cache.summary(name, ORACLE_SQL[name], sf_dir)
            )
        except Exception as exc:  # noqa: BLE001 — a raising check is a failed check
            problem = f"check raised {type(exc).__name__}: {str(exc)[:200]}"
        if problem:
            run.fail(f"{name}: {problem}")

    pass_no = itertools.count()

    def one_pass(traced: bool) -> float:
        # the first pass runs in the set-up's application, which has run
        # no query yet
        if next(pass_no):
            run.spark = sparkctl.new_application(run.spark, run.cpus)
            # a new application's first jobs pay its own start-up; keep
            # that out of whichever query the seed puts first
            warmup(run.spark)
        spark = run.spark
        counters = tracing.SparkCounters(spark) if traced else None
        if traced:
            memos.set_application(spark.sparkContext.applicationId)
        total = 0.0
        for name in names:
            run.attempted += 1
            if traced:
                windows = [tracing.JobWindow(counters, f"{name}:{phase}") for phase in ("build", "exec")]
                memo0 = memos.snapshot()
            else:
                windows = [contextlib.nullcontext(), contextlib.nullcontext()]
            try:
                with _span(run, traced, "query", query=name, module=labels[name]):
                    t0 = time.perf_counter()
                    with windows[0], _span(run, traced, "query.build") as build_span:
                        df = QUERIES[name](spark, sf_dir)
                    with windows[1], _span(run, traced, "query.exec") as exec_span:
                        df.write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — a failing query is counted, the run goes on
                run.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            total += dt
            if traced:
                memo1 = memos.snapshot()
                memo = "cold" if memo1[0] > memo0[0] else "warm" if memo1[1] > memo0[1] else None
                records.append(
                    _fold_query(run.layers, counters, name, labels[name], windows, build_span, exec_span, memo)
                )
            else:
                query_s.append(dt)
                per_query[name].append(dt)
            check(name, df)
        return total

    plain, traced = _passes(run, one_pass)
    run.metrics.update(pass_s=timing(plain), item_geomean_s=geomean(query_s))
    run.report.update(
        pass_s=timing(plain),
        query_p50_s=timing(query_s),
        query_tail_s={**tail(query_s), "unit": "s"},
        queries={n: per_query[n] for n in names},
        oracle_cache={"hits": cache.hits, "misses": cache.misses},
    )
    if run.trace:
        _finish_layers(run, plain, traced)
        run.report["memo_dicts"] = memos.memo_dicts()
        run.report["traced_queries"] = records


def _identity_batches(batches):
    yield from batches


def _fold_query(layers, counters, name, label, windows, build_span, exec_span, memo) -> dict:
    """Fold one traced query into the layers; returns its record."""
    build, execd = windows[0].figures(), windows[1].figures()
    rdds, size = counters.new_persistent_rdds()
    _add(layers, f"build_s.{label}", build_span.end - build_span.start)
    _add(layers, f"exec_s.{label}", exec_span.end - exec_span.start)
    _add(layers, f"build_jobs.{label}", build["jobs"])
    _add(layers, "exec_jobs", execd["jobs"])
    _add_figures(layers, [build, execd])
    _add(layers, "checkpoint.rdds", rdds)
    _add(layers, "checkpoint.bytes", size)
    if memo:
        _add(layers, f"memo.{memo}", 1)
    return {
        "query": name,
        "module": label,
        "build_s": build_span.end - build_span.start,
        "exec_s": exec_span.end - exec_span.start,
        "build_jobs": build["jobs"],
        "exec_jobs": execd["jobs"],
        "group_jobs": build["group_jobs"] + execd["group_jobs"],
        "checkpoint_rdds": rdds,
        "memo": memo,
    }


WORKLOADS = {
    "tag_folder": run_tag_folder,
    "query_multijob": run_queries,
}


SPAN_NAMES = [
    "tag_folder.folder", "pipeline.build", "images.scan", "kernels.execute",
    "tagging.select", "sinks.sidecar", "sinks.parquet",
    "query", "query.build", "query.exec",
]  # fmt: skip

# Every per-layer metric, with its unit. Every workload reports all of
# them; a layer the workload does not exercise reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "images.scan_s": "s",
    "images.files_listed": "count",
    "pipeline.build_s": "s",
    "kernels.decode_s": "s",
    "kernels.score_s": "s",
    "kernels.rows": "count",
    "kernels.execute_s": "s",
    "tagging.select_s": "s",
    "sinks.sidecar_s": "s",
    "sinks.parquet_s": "s",
    "sinks.files_written": "count",
    **{f"build_s.{m}": "s" for m in MODULE_LABELS},
    **{f"build_jobs.{m}": "count" for m in MODULE_LABELS},
    **{f"exec_s.{m}": "s" for m in MODULE_LABELS},
    "exec_jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "checkpoint.rdds": "count",
    "checkpoint.bytes": "bytes",
    "memo.cold": "count",
    "memo.warm": "count",
    "stream.jobs": "count",
    "jobs.window": "count",
    "jobs.group": "count",
    "trace.overhead_s": "s",
    **{f"self_s.{s}": "s" for s in SPAN_NAMES},
}


def per_layer_values(run: Run, jvm_peak_mb: float) -> dict[str, float]:
    values = dict.fromkeys(PER_LAYER, 0.0)
    values["session.start_s"] = run.start_s
    values["session.warmup_s"] = run.warmup_s
    values["session.jvm_peak_rss_mb"] = jvm_peak_mb
    values.update({k: float(v) for k, v in run.layers.items() if k in PER_LAYER})
    return values
