"""Measurement helpers: spans, Spark status-store deltas, model-backend
accumulators and peak resident memory.

Everything here wraps calls the benchmark makes into the engine's public
functions; nothing inside the engine is instrumented. Spans are kept in
memory and written out once, at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

#: Spark executor/stage counters read as deltas of the status store.
SPARK_COUNTERS = (
    "jobs", "stages", "task_s", "cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "failed_tasks",
)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _anon_rss(pid: int) -> int:
    """Anonymous resident bytes of one process: heap, stacks and native
    allocations, without file-backed pages (mapped jars and shuffle
    files) that the kernel shares and reclaims at will."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("RssAnon:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of a process tree (the JVM and the Python
    workers it forks), sampled from /proc on a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rfind(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            total += _anon_rss(pid)
            todo.extend(children.get(pid, ()))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def restart(self) -> int:
        """Start a new peak; return the peak so far."""
        peak, self.peak_bytes = self.peak_bytes, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


class SparkMeter:
    """Cumulative executor and stage totals of one SparkContext, read
    from its status store (which runs with the UI disabled).

    Each snapshot first waits for the listener bus to drain, so every
    task of the actions that already returned is counted. Job and stage
    ids are dense per context, so the newest id counts them all; cpu and
    spill are summed over the stages that finished since the previous
    snapshot (the store lists the newest stage first)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._seen_stage = -1
        self._cpu_s = 0.0
        self._spill = 0.0
        self.storage_peak = 0

    def snapshot(self) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        execs = store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["task_s"] += e.totalDuration() / 1e3
            out["gc_s"] += e.totalGCTime() / 1e3
            out["input_bytes"] += e.totalInputBytes()
            out["shuffle_read_bytes"] += e.totalShuffleRead()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
            out["failed_tasks"] += e.failedTasks()
            self.storage_peak = max(self.storage_peak, e.memoryUsed() + e.diskUsed())
        jobs = store.jobsList(None)
        out["jobs"] = float(jobs.apply(0).jobId() + 1) if jobs.size() else 0.0
        gw = self.sc._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        newest = self._seen_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._seen_stage:
                break
            newest = max(newest, sid)
            self._cpu_s += s.executorCpuTime() / 1e9
            self._spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._seen_stage = newest
        out["stages"] = float(newest + 1)
        out["cpu_s"] = self._cpu_s
        out["spill_bytes"] = self._spill
        return out

    def delta(self, before: dict, after: dict) -> dict[str, float]:
        return {k: after[k] - before[k] for k in SPARK_COUNTERS}


class Tracer:
    """In-memory spans around the benchmark's calls into the engine.

    A span records name, layer, start, end, parent and op id; spans of
    layer ``op`` (one request of the client) also carry the status-store
    delta of their interval. Disabled, ``span`` yields None and records
    nothing, so the untraced run pays one context-manager call."""

    #: layers whose span time is reported, and the registry queries
    #: reported one by one
    LAYERS = ("op", "plans", "queries", "sources", "streaming")
    QUERIES = ("sessionize_learned_gap",)

    def __init__(self):
        self.meter: SparkMeter | None = None
        self.spans: list[dict] = []
        self.totals: dict[str, float] = {}
        self._stack: list[int] = []

    def enable(self, meter: SparkMeter) -> None:
        self.meter = meter

    def disable(self) -> None:
        self.meter = None

    @property
    def enabled(self) -> bool:
        return self.meter is not None

    @contextmanager
    def span(self, name: str, layer: str, op_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "layer": layer, "op_id": op_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        meter = self.meter
        before = meter.snapshot() if layer == "op" else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if before is not None:
                rec["spark"] = meter.delta(before, meter.snapshot())
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.totals[key] = self.totals.get(key, 0.0) + value

    def _time(self, layer: str, *names: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["layer"] == layer and (not names or s["name"] in names))

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = dict.fromkeys(self.LAYERS, 0.0)
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["end"] - s["start"] - c
        return out

    def layer_metrics(self) -> dict[str, float]:
        t = self.totals
        q = self.QUERIES
        out = {
            "plans.run_s": self._time("plans"),
            "queries.build_s": self._time("queries", *(f"{n}.build" for n in q)),
            "queries.exec_s": self._time("queries", *(f"{n}.exec" for n in q)),
            **{f"queries.{n}_s": self._time("queries", f"{n}.build", f"{n}.exec") for n in q},
            "sources.write_s": self._time("sources", "write_partitioned", "delete_where",
                                          "update_where"),
            "sources.files_rewritten": t.get("sources.files_rewritten", 0.0),
            "sources.files_read_per_lookup": (t.get("sources.files_read", 0.0)
                                              / max(1.0, t.get("sources.lookups", 0.0))),
            "streaming.trigger_s": self._time("streaming"),
            "streaming.add_batch_ms": t.get("streaming.add_batch_ms", 0.0),
            "streaming.query_planning_ms": t.get("streaming.query_planning_ms", 0.0),
        }
        out.update({f"self.{k}_s": v for k, v in self.self_times().items()})
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "totals": self.totals}, f, default=str)


class _Metered:
    """A model backend that adds calls, rows and seconds of each batch
    call to three accumulators."""

    def __init__(self, inner, accs):
        self.inner, self.accs = inner, accs

    def _call(self, fn, items):
        t = time.perf_counter()
        out = fn(items)
        calls, rows, secs = self.accs
        calls.add(1)
        rows.add(len(items))
        secs.add(time.perf_counter() - t)
        return out

    def complete(self, prompts):
        return self._call(self.inner.complete, prompts)

    def embed(self, texts):
        return self._call(self.inner.embed, texts)


class MlMeter:
    """Backend factories for the mock models; when metered, each built
    backend reports calls, rows and seconds through Spark accumulators
    (the backends run inside Python workers, not in this process)."""

    def __init__(self, spark, metered: bool):
        from enclaveid_data_pipeline_spark.ml.backends import (
            MockCompletionBackend,
            MockEmbeddingBackend,
        )

        sc = spark.sparkContext
        self.accs = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))
        accs = self.accs
        if metered:
            self.completion = lambda: _Metered(MockCompletionBackend(), accs)
            self.embedding = lambda: _Metered(MockEmbeddingBackend(dim=8), accs)
        else:
            self.completion = MockCompletionBackend
            self.embedding = lambda: MockEmbeddingBackend(dim=8)

    def values(self) -> dict[str, float]:
        calls, rows, secs = self.accs
        return {"ml.calls": calls.value, "ml.rows": rows.value, "ml.backend_s": secs.value}
