"""Per-layer measurement for the traced benchmark run.

Everything here wraps calls into the program from outside; nothing in the
program changes. Four instruments:

* ``Tracer`` records spans (name, start, end, parent) in memory and derives
  each span's self time: its duration minus what its children cover.
* ``SparkCounters`` attributes Spark jobs to a call by job-id window: with
  one client thread, a call owns every job submitted between its start and
  its end, including jobs that helper threads and streaming micro-batches
  submit under their own job group. Stage figures come from Spark's own
  status store over py4j, which works with the UI off.
* ``MemoCounter`` finds the session memos by their key contract
  (module-level dicts keyed by ``(applicationId, sf_dir, ...)``, see
  ``checkpointing.session_cache_sweep``) and counts builds and hits.
* ``TimedDecode`` and ``TimedScorer`` wrap the kernel callables handed to
  ``pipeline.tag_images`` and sum task-side seconds through accumulators.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "cl_tagger_batch_processing_spark"


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        sp = Span(name, time.perf_counter(), parent, attrs=dict(attrs))
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals
        (children of one span never overlap with one client thread)."""
        child_s = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] += sp.end - sp.start
        return [sp.end - sp.start - c for sp, c in zip(self.spans, child_s)]

    def totals(self) -> dict[str, dict[str, float]]:
        """name -> {"n", "total_s", "self_s"} over all spans of that name."""
        out: dict[str, dict[str, float]] = {}
        for sp, self_s in zip(self.spans, self.self_times()):
            t = out.setdefault(sp.name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            t["n"] += 1
            t["total_s"] += sp.end - sp.start
            t["self_s"] += self_s
        return out

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": i,
                "name": sp.name,
                "parent": sp.parent,
                "start_s": round(sp.start - t0, 6),
                "end_s": round(sp.end - t0, 6),
                "self_s": round(self_s, 6),
                **sp.attrs,
            }
            for i, (sp, self_s) in enumerate(zip(self.spans, self.self_times()))
        ]


# ---------------------------------------------------------------------------
# Spark jobs, stages and storage
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "exec.cpu_s",
    "exec.run_s",
)


class SparkCounters:
    """Job-id windows and stage figures for one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_rdds = set(self._persistent_rdds())

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the status store has seen every event so far."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def group_job_count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_summary(self, first: int, end: int) -> dict:
        """Figures for jobs with ids in [first, end)."""
        self.drain()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = end - first
        out["stream_jobs"] = 0
        stage_ids: set[int] = set()
        for job_id in range(first, end):
            info = tracker.getJobInfo(job_id)
            if info is None:  # evicted from the status store
                continue
            stage_ids.update(int(s) for s in info.stageIds)
            desc = self._store.job(job_id).description()
            # micro-batch jobs carry "id = <query>\nrunId = <run>\nbatch = n"
            if desc.isDefined() and "runId = " in str(desc.get()):
                out["stream_jobs"] += 1
        for sid in stage_ids:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
            out["failed_tasks"] += int(sd.numFailedTasks())
            out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
            out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
            out["exec.cpu_s"] += int(sd.executorCpuTime()) / 1e9
            out["exec.run_s"] += int(sd.executorRunTime()) / 1e3
        return out

    def _persistent_rdds(self) -> list[int]:
        return [int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()]

    def new_persistent_rdds(self) -> tuple[int, int]:
        """(count, storage bytes) of RDDs persisted since the last call —
        local checkpoints and caches a query left behind."""
        self.drain()
        new = set(self._persistent_rdds()) - self._seen_rdds
        self._seen_rdds |= new
        infos = self._store.rddList(True)
        size = 0
        for i in range(infos.size()):
            info = infos.apply(i)
            if int(info.id()) in new:
                size += int(info.memoryUsed()) + int(info.diskUsed())
        return len(new), size


class JobWindow:
    """Context manager: runs its body under job group ``group`` and records
    the job-id window. ``figures()``, called after the body (and outside any
    timed span), reads the window's figures plus ``group_jobs``, the count
    the job group alone attributes."""

    def __init__(self, counters: SparkCounters, group: str) -> None:
        self.counters, self.group = counters, group
        self.first = self.end = 0

    def __enter__(self):
        self.first = self.counters.next_job_id()
        self.counters.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc) -> bool:
        self.end = self.counters.next_job_id()
        self.counters.sc.setLocalProperty("spark.jobGroup.id", None)
        self.counters.sc.setLocalProperty("spark.job.description", None)
        return False

    def figures(self) -> dict:
        out = self.counters.jobs_summary(self.first, self.end)
        out["group_jobs"] = self.counters.group_job_count(self.group)
        return out


# ---------------------------------------------------------------------------
# session memos
# ---------------------------------------------------------------------------


class _CountingDict(dict):
    """A dict that counts inserts and hits of keys that follow the memo
    key contract for the current application."""

    app_id: str | None = None

    def __init__(self, *args, **kw) -> None:
        super().__init__(*args, **kw)
        self.inserts = 0
        self.hits = 0

    def _contract(self, key) -> bool:
        return isinstance(key, tuple) and len(key) >= 2 and key[0] == _CountingDict.app_id

    def __setitem__(self, key, value) -> None:
        if self._contract(key) and key not in self:
            self.inserts += 1
        super().__setitem__(key, value)

    def __getitem__(self, key):
        value = super().__getitem__(key)
        if self._contract(key):
            self.hits += 1
        return value

    def get(self, key, default=None):
        if key in self:
            return self[key]
        return default


class MemoCounter:
    """Replaces every module-level dict of the package whose keys are all
    tuples (an empty one too) with a counting copy. Only keys of the form
    ``(applicationId, ...)`` count, so dicts that are not session memos
    never register; ``memo_dicts`` lists the ones that did."""

    def __init__(self) -> None:
        import importlib
        import pkgutil

        pkg = importlib.import_module(PACKAGE)
        for mod in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            if not mod.name.endswith("__main__"):
                importlib.import_module(mod.name)
        self.dicts: dict[str, _CountingDict] = {}
        for name, module in list(sys.modules.items()):
            if not name.startswith(PACKAGE + "."):
                continue
            for attr, value in list(vars(module).items()):
                if type(value) is dict and all(isinstance(k, tuple) for k in value):
                    counting = _CountingDict(value)
                    setattr(module, attr, counting)
                    self.dicts[f"{name[len(PACKAGE) + 1:]}.{attr}"] = counting

    def set_application(self, app_id: str) -> None:
        _CountingDict.app_id = app_id

    def snapshot(self) -> tuple[int, int]:
        return (
            sum(d.inserts for d in self.dicts.values()),
            sum(d.hits for d in self.dicts.values()),
        )

    def memo_dicts(self) -> list[str]:
        return sorted(k for k, d in self.dicts.items() if d.inserts or d.hits)


# ---------------------------------------------------------------------------
# kernel wrappers (pickled to Python workers)
# ---------------------------------------------------------------------------


class TimedDecode:
    def __init__(self, fn, seconds, rows) -> None:
        self.fn, self.seconds, self.rows = fn, seconds, rows

    def __call__(self, content: bytes):
        t0 = time.perf_counter()
        try:
            return self.fn(content)
        finally:
            self.seconds.add(time.perf_counter() - t0)
            self.rows.add(1)


class TimedScorer:
    def __init__(self, scorer, seconds) -> None:
        self.scorer, self.seconds = scorer, seconds

    def score_batch(self, tensors):
        t0 = time.perf_counter()
        try:
            return self.scorer.score_batch(tensors)
        finally:
            self.seconds.add(time.perf_counter() - t0)
