"""Traced-run instrumentation, all on the benchmark's side of the API.

* :class:`Tracer` -- wall-clock spans, time windows and job groups
  (``setJobGroup(<op>/<phase>)``) around each phase of an op, so
  :func:`parse_event_log` can attribute every task to an op phase. Its
  wrappers around public engine functions replace module attributes for
  the traced rounds only; no engine file changes.
* :func:`planning_ms` -- Catalyst's ``QueryPlanningTracker`` of a
  collected DataFrame.
* :class:`ProgressLog` -- a ``StreamingQueryListener`` keeping every
  epoch's progress; a :class:`Tracer` attaches one.
* :class:`TimedMockProvider` -- the mock LLM provider, appending its
  Python-worker time per batch to a file.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from acero_delta_lake_streaming_spark.functions.extract import MockExtractionProvider


def planning_ms(df) -> dict[str, float]:
    """Catalyst phase durations (ms) of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


class ProgressLog(StreamingQueryListener):
    """Keeps every epoch's ``StreamingQueryProgress`` as a dict."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class TimedMockProvider(MockExtractionProvider):
    """MockExtractionProvider that appends ``rows seconds`` per batch to
    ``log_path``. Runs in the Python workers, so the numbers travel
    through the file, not through the benchmark process's memory."""

    def __init__(self, log_path: str):
        self.log_path = log_path

    def extract_batch(self, texts):
        t0 = time.perf_counter()
        out = super().extract_batch(texts)
        with open(self.log_path, "a") as f:
            f.write(f"{len(out)} {time.perf_counter() - t0:.6f}\n")
        return out


def read_provider_log(log_path: str) -> tuple[int, float]:
    rows, secs = 0, 0.0
    if os.path.exists(log_path):
        with open(log_path) as f:
            for line in f:
                n, s = line.split()
                rows, secs = rows + int(n), secs + float(s)
    return rows, secs


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

EXEC_KEYS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
)


def _event_files(log_dir: str, app_id: str) -> list[str]:
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(glob.glob(os.path.join(log_dir, f"{app_id}*")))


def parse_event_log(
    log_dir: str, app_id: str, windows: list[tuple[str, float, float]]
) -> dict[str, dict[str, float]]:
    """Executor totals per label: jobs, stages, tasks, run/CPU/GC seconds,
    shuffle, spill and input bytes. A job belongs to the label of its job
    group when that is one of ``windows``' labels, else to the window
    ``(label, start_ms, end_ms)`` its submission time falls in -- the
    streaming engine runs micro-batches under its own job group."""
    labels = {label for label, _, _ in windows}
    stage_label: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0))
    for path in _event_files(log_dir, app_id):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if label not in labels:
                        at = ev.get("Submission Time", 0)
                        label = next((w for w, s, e in windows if s <= at <= e), None)
                    if label is None:
                        continue
                    out[label]["jobs"] += 1
                    out[label]["stages"] += len(ev.get("Stage IDs", []))
                    for sid in ev.get("Stage IDs", []):
                        stage_label[sid] = label
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if label is None or not m:
                        continue
                    g = out[label]
                    g["tasks"] += 1
                    g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return dict(out)


class Tracer:
    """One traced run's records: spans ``(name, start, end, op)``, op-phase
    time windows ``(label, start_ms, end_ms)``, and what the workloads
    observe per op. ``op`` is the op being run."""

    def __init__(self, spark):
        self.spark, self.sc = spark, spark.sparkContext
        self.op: str | None = None
        self.records: list[tuple[str, float, float, str | None]] = []
        self.windows: list[tuple[str, float, float]] = []
        self.planning: list[dict[str, float]] = []  # Catalyst phases per DataFrame
        self.persisted: list[int] = []  # block-manager bytes after each op
        self.items: list[int] = []  # feed items dropped per poll
        self.scanned: list[float] = []  # point-read files scanned / live files
        self._listener = ProgressLog()
        self.progress = self._listener.progress  # streaming epochs
        spark.streams.addListener(self._listener)
        self._labels: list[str] = []
        self._undo: list[tuple[object, str, object]] = []

    def close(self) -> None:
        """Deliver pending listener events, then detach the listener."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # not reachable through py4j on every build
            time.sleep(1.0)
        self.spark.streams.removeListener(self._listener)

    def phase(self, name: str):
        return _Phase(self, name)

    def wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Run every call of ``module.attr`` as phase ``name`` until
        :meth:`unwrap_all`; ``on_call(result)`` runs after each call."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.phase(name):
                out = fn(*args, **kwargs)
            if on_call is not None:
                on_call(out)
            return out

        self._undo.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        while self._undo:
            module, attr, fn = self._undo.pop()
            setattr(module, attr, fn)

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.records if n == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def count(self, name: str) -> int:
        return len(self.durations(name))


class _Phase:
    """Span + time window + job group ``<op>/<name>`` for one phase; nests
    (the enclosing phase's job group is restored on exit)."""

    def __init__(self, tracer: Tracer, name: str):
        self.tr, self.name = tracer, name

    def __enter__(self):
        self.label = f"{self.tr.op}/{self.name}"
        self.tr._labels.append(self.label)
        self.tr.sc.setJobGroup(self.label, self.label)
        self.t0, self.w0 = time.perf_counter(), time.time() * 1000
        return self

    def __exit__(self, *exc):
        t1, w1 = time.perf_counter(), time.time() * 1000
        self.tr.records.append((self.name, self.t0, t1, self.tr.op))
        self.tr.windows.append((self.label, self.w0, w1))
        self.tr._labels.pop()
        if self.tr._labels:
            self.tr.sc.setJobGroup(self.tr._labels[-1], self.tr._labels[-1])
        else:
            self.tr.sc._jsc.clearJobGroup()
        return False


def phase(tr: Tracer | None, name: str):
    """``tr.phase(name)``, or a no-op context in untraced rounds."""
    return contextlib.nullcontext() if tr is None else tr.phase(name)
