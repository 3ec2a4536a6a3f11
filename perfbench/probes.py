"""Measurement helpers that observe the engine from outside: Spark's own
status-store counters, per-request spans, and the peak memory of the
driver, the JVM and the Python workers."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

COUNTER_KEYS = ("jobs", "tasks", "task_ms", "gc_ms", "input_bytes", "input_records",
                "shuffle_write_bytes", "shuffle_read_bytes")


class SparkCounters:
    """Deltas of the status store's job and stage data around a call.

    Job ids grow by one per job, so the jobs of a call are those numbered
    from the first unseen id before it to the last one present after it
    (the closed loop has one client, so no other job interleaves)."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        self._next = 1 + max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def mark(self) -> int:
        """The id the next job will get."""
        self._bus.waitUntilEmpty()
        while True:
            try:
                self._store.job(self._next)
            except Exception:  # py4j raises NoSuchElementException past the last job
                return self._next
            self._next += 1

    def since(self, first_job: int) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTER_KEYS, 0)
        stages = set()
        j = first_job
        while True:
            try:
                job = self._store.job(j)
            except Exception:  # py4j raises NoSuchElementException past the last job
                break
            out["jobs"] += 1
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
            j += 1
        self._next = max(self._next, j)
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # a stage the scheduler never submitted
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["tasks"] += st.numCompleteTasks()
            out["task_ms"] += st.executorRunTime()
            out["gc_ms"] += st.jvmGcTime()
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
        return out


class Tracer:
    """Spans (request id, layer, start, end, parent) with the counter deltas
    recorded at the same boundaries; kept in memory, written at the end."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, request: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"request": request, "layer": layer, "parent": parent,
               "start": time.perf_counter() - self._t0}
        self.spans.append(rec)
        self._stack.append(idx)
        mark = self.counters.mark() if self.counters else None
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self.counters:
                rec["counters"] = self.counters.since(mark)

    def _children(self, rec: dict) -> list:
        me = self.spans.index(rec)
        return [s for s in self.spans if s["parent"] == me]

    def self_ms(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        child = sum(s["end"] - s["start"] for s in self._children(rec))
        return (rec["end"] - rec["start"] - child) * 1e3

    def self_counter(self, rec: dict, key: str) -> int:
        """A counter delta of the span minus those of its direct children."""
        return rec["counters"][key] - sum(s["counters"][key] for s in self._children(rec))


# (class, method, layer, materialise the returned DataFrame)
LAYER_CALLS = (
    ("Engine", "tiles_for", "tiles", True),
    ("Engine", "fetch", "fetch", True),
    ("Engine", "mosaic", "mosaic", True),
    ("Engine", "write", "write", False),
    ("MetricsStore", "resume_filter", "resume", True),
    ("MetricsStore", "append_stage", "lineage", False),
)


@contextmanager
def layer_spans(tracer: Tracer, request: str):
    """Put the engine's layer calls made inside the block each in a span,
    under one ``request`` span.

    The calls in ``LAYER_CALLS`` are wrapped on their classes for the
    duration of the block, so the caller's own code (the CLI, say) runs
    unchanged. A call that returns a DataFrame returns it materialised
    (``localCheckpoint(eager=True)``) inside its span: the span then holds
    the layer's whole work, and the next layer reads the checkpoint. The
    block gets ``{layer: [output, ...]}``; after it, the request span's
    ``rows`` holds the row count of each layer's outputs."""
    from tilegrab_spark.plans import lineage, pipeline

    classes = {"Engine": pipeline.Engine, "MetricsStore": lineage.MetricsStore}
    outputs: dict[str, list] = {}

    def wrap(fn, layer, materialise):
        def call(*args, **kwargs):
            with tracer.span(request, layer):
                out = fn(*args, **kwargs)
                if materialise:
                    out = out.localCheckpoint(eager=True)
                    outputs.setdefault(layer, []).append(out)
            return out
        return call

    saved = [(classes[c], name, classes[c].__dict__[name]) for c, name, _, _ in LAYER_CALLS]
    for (cls, name, fn), (_, _, layer, materialise) in zip(saved, LAYER_CALLS):
        setattr(cls, name, wrap(fn, layer, materialise))
    try:
        with tracer.span(request, "request") as rec:
            yield outputs
        rec["rows"] = {layer: sum(df.count() for df in dfs) for layer, dfs in outputs.items()}
    finally:
        for cls, name, fn in saved:
            setattr(cls, name, fn)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Polls the summed proportional set size (PSS) of this process and the
    process tree rooted at the JVM, and keeps the largest sum seen. PSS
    splits a page shared by several processes among them, so the pages
    the forked Python workers share with their daemon count once, however
    many workers the scheduler happened to fork."""

    def __init__(self, root_pid: int, period_s: float = 0.5):
        self.root = root_pid
        self.period = period_s
        self.peak_kb = 0
        self.peak_parts = (0, 0, 0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        kids = _proc_children()
        workers, todo = [], list(kids.get(self.root, ()))
        while todo:
            pid = todo.pop()
            workers.append(pid)
            todo.extend(kids.get(pid, ()))
        driver, jvm = _pss_kb(os.getpid()), _pss_kb(self.root)
        py = sum(_pss_kb(p) for p in workers)
        if driver + jvm + py > self.peak_kb:
            self.peak_kb = driver + jvm + py
            self.peak_parts = (driver, jvm, py, len(workers))

    def _loop(self):
        while not self._stop.wait(self.period):
            self._sample()

    def start(self):
        self._sample()
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def breakdown(self) -> str:
        driver, jvm, py, n = self.peak_parts
        return (f"driver {driver / 1024:.0f} MB, jvm {jvm / 1024:.0f} MB, "
                f"{n} python workers {py / 1024:.0f} MB")


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no markers, no checksums)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total
