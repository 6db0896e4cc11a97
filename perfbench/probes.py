"""Probes for the traced run, all outside the engine package: timers
wrapped around the public functions of its layers, a
``StreamingQueryListener``, and a parser for Spark's uncompressed event
log."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

PACKAGE = "data_engineer_interview_task_spark"


class LayerTimers:
    """Counts calls to, and time inside, ``sources.read_table``,
    ``plans.artifacts.materialized`` and ``operators.trends.trends_pipeline``.

    Operator modules bind ``read_table`` at import, so every loaded module
    that holds the original function gets the wrapper."""

    def __init__(self, artifact_dir: str):
        self.artifact_dir = artifact_dir
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.artifact_builds = 0
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, label: str, fn, on_call=None):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs) if on_call is None else on_call(fn, *args, **kwargs)
            finally:
                self.calls[label] += 1
                self.seconds[label] += time.perf_counter() - t0

        return timed

    def _artifact_call(self, fn, *args, **kwargs):
        before = self.artifact_dirs()
        out = fn(*args, **kwargs)
        self.artifact_builds += len(self.artifact_dirs() - before)
        return out

    def artifact_dirs(self) -> set[str]:
        try:
            return {d for d in os.listdir(self.artifact_dir) if "__build_" not in d}
        except FileNotFoundError:
            return set()

    def install(self) -> None:
        from data_engineer_interview_task_spark.operators import trends
        from data_engineer_interview_task_spark.plans import artifacts
        from data_engineer_interview_task_spark.sources import parquet

        targets = [
            ("read_table", parquet.read_table, None),
            ("materialized", artifacts.materialized, self._artifact_call),
            ("trends_pipeline", trends.trends_pipeline, None),
        ]
        modules = [
            m
            for name, m in list(sys.modules.items())
            if m is not None and (name == "__spark_entry__" or name.startswith(PACKAGE))
        ]
        for attr, fn, on_call in targets:
            wrapper = self._wrap(attr, fn, on_call)
            for m in modules:
                if getattr(m, attr, None) is fn:
                    self._undo.append((m, attr, fn))
                    setattr(m, attr, wrapper)

    def uninstall(self) -> None:
        for m, attr, fn in reversed(self._undo):
            setattr(m, attr, fn)
        self._undo.clear()


def make_listener():
    """A ``StreamingQueryListener`` keeping every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {
                    "run": str(p.runId),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def streaming_metrics(progress: list[dict], passes: int) -> dict[str, float]:
    def total(key: str) -> float:
        return sum(p["ms"].get(key, 0) for p in progress)

    # state rows: the last report of each query run holds its final state
    last_state = {p["run"]: p["state_rows"] for p in progress}
    trig = [p["ms"].get("triggerExecution", 0) for p in progress]
    return {
        "streaming.batches": len(progress) / passes,
        "streaming.batch_p50_ms": statistics.median(trig) if trig else 0.0,
        "streaming.add_batch_ms": total("addBatch") / passes,
        "streaming.commit_ms": (total("walCommit") + total("commitOffsets")) / passes,
        "streaming.query_planning_ms": total("queryPlanning") / passes,
        "streaming.input_rows": sum(p["rows"] for p in progress) / passes,
        "streaming.state_rows": sum(last_state.values()) / passes,
    }


def exec_metrics(
    log_dir: str, window: tuple[float, float], build_spans: list[tuple[float, float]], passes: int
) -> dict[str, float]:
    """Jobs, stages and tasks from the event log that started inside
    ``window`` (epoch seconds), per pass. A job submitted inside one of
    ``build_spans`` fired during query construction."""
    lo, hi = (int(t * 1000) for t in window)
    spans = [(int(a * 1000), int(b * 1000)) for a, b in build_spans]
    jobs = build_jobs = stages = tasks = failed = 0
    cpu_ns = gc_ms = wait_ms = read_b = write_b = spill_b = 0
    stage_submit: dict[tuple[int, int], int] = {}
    for path in Path(log_dir).iterdir():
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                    if lo <= t <= hi:
                        jobs += 1
                        build_jobs += any(a <= t <= b for a, b in spans)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    t = info.get("Submission Time", 0)
                    stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = t
                    stages += lo <= t <= hi
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    t = info["Launch Time"]
                    if not lo <= t <= hi:
                        continue
                    tasks += 1
                    failed += bool(info.get("Failed"))
                    submit = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if submit:
                        wait_ms += max(0, t - submit)
                    m = ev.get("Task Metrics") or {}
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    write_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    mb = 1024 * 1024
    return {
        "operators.build_jobs": build_jobs / passes,
        "exec.jobs": jobs / passes,
        "exec.stages": stages / passes,
        "exec.tasks": tasks / passes,
        "exec.task_cpu_s": cpu_ns / 1e9 / passes,
        "exec.task_wait_s": wait_ms / 1000 / passes,
        "exec.gc_s": gc_ms / 1000 / passes,
        "exec.shuffle_read_mb": read_b / mb / passes,
        "exec.shuffle_write_mb": write_b / mb / passes,
        "exec.spill_mb": spill_b / mb / passes,
        "exec.failed_tasks": failed / passes,
    }
