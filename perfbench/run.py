#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. One process is one Spark driver
(``local[2]``). It starts a session, preps it and warms it up on inputs
that are never timed (throwaway weeks, or the sf0.001 tables and then whole
passes over copies of the timed tables at paths no timed pass reads), until
an operation takes about as long as it will while timed. It then runs the
workload as a closed loop with one
client for ``--seconds``: each operation starts when the previous one has
finished, in whole passes. A pass is one sweep over the workload's queries
on a fresh copy of the tables, so no memo or artifact of an earlier pass can
serve it, or one month of weekly trends appends. Afterwards it sets a
session up ``SETUPS`` more times on the warm JVM for ``setup_s``, and checks
every output against a DuckDB oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs half the
time untraced, then half in a fresh session with the probes of
``probes.py`` on (Spark event log, streaming listener, layer timers), and
prints the per-layer metrics, each per pass. ``cpu_s`` is per-layer, not
end-to-end: on the trends workload its middle half spread over 0.13-0.19 of
its median from run to run, and about a quarter of it is the JVM's JIT
compiler threads.

Every temp dir of the run (Python's, the JVM's, Spark's local dir, the
warehouse and the engine's artifact dir) sits under ``perfbench/.run-*`` and
is deleted at exit.

Sessions are always prepped with ``plans.prep_session``. A known defect,
left for a fix in the engine: on an unprepped session (Arrow off)
``sources.ingest.ingest_wide_matrix`` raises
``FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME`` (``LongType() can not accept
object 47.0 in type <class 'float'>``) whenever a term column holds NaN,
which is exactly the pytrends shape.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import oracle  # noqa: E402
import proctree  # noqa: E402
import probes  # noqa: E402
from workloads import (  # noqa: E402
    WARMUP_PASSES,
    WARMUP_WEEKS,
    WEEKS_PER_PASS,
    WORKLOADS,
    op_order,
    trends_long,
    trends_week,
    week_dates,
)

SETUPS = 3
_T0 = time.perf_counter()
#: task slots: at sf0.01 a pass takes no longer on 2 cores than on 4, and
#: leaving the host's other cores to the JVM's own threads and the Python
#: workers made its time spread less from run to run (0.09 of the median
#: against 0.15 over five runs on a 4-core host)
CORES = min(2, os.cpu_count() or 1)
DRIVER_MEMORY = "3g"
TIMED_DATA = BENCH / "data" / "sf0.01"
WARM_DATA = BENCH / "data" / "sf0.001"
TRENDS_TABLE = "trends_weekly"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
PER_LAYER = {
    "cpu_s": "CPU-s",
    "ops.p50_ms": "ms",
    "ops.p90_ms": "ms",
    "peak_rss_mb": "MB",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "CPU-s",
    "exec.task_wait_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "sources.read_table_calls": "count",
    "sources.read_table_s": "s",
    "artifacts.calls": "count",
    "artifacts.builds": "count",
    "artifacts.hit_ratio": "ratio",
    "artifacts.build_s": "s",
    "artifacts.disk_mb": "MB",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.input_rows": "rows",
    "streaming.state_rows": "rows",
    "streaming.written_mb": "MB",
    "streaming.write_amp": "ratio",
    "ingest.s": "s",
    "trends.pipeline_s": "s",
    "sinks.append_s": "s",
    "sinks.files_per_append": "count",
    "sinks.bytes_per_row": "B",
    "python_workers.cpu_s": "CPU-s",
    "trace.overhead_ratio": "ratio",
    "ops.unaccounted_max_ratio": "ratio",
    "setup.first_s": "s",
    "host.steal_ratio": "ratio",
}


@dataclass
class Sample:
    """One operation: its wall time and the three phases inside it."""

    name: str
    wall: float = 0.0
    build: float = 0.0
    plan: float = 0.0
    exec: float = 0.0
    #: epoch seconds of the build phase, to attribute Spark jobs to it
    build_span: tuple[float, float] = (0.0, 0.0)
    output: object = None
    error: str = ""


@dataclass
class Section:
    """The passes of one timed section."""

    passes: list[list[Sample]] = field(default_factory=list)
    #: CPU seconds of the process tree during each pass
    cpu: list[float] = field(default_factory=list)

    @property
    def samples(self) -> list[Sample]:
        return [s for p in self.passes for s in p]

    def pass_times(self) -> list[float]:
        return [sum(s.wall for s in p) for p in self.passes]

    def pass_s(self) -> float:
        """One pass's time, from the median time of each of its operations
        times how often a pass runs it, so one slow pass does not move it."""
        walls: dict[str, list[float]] = {}
        for s in self.samples:
            walls.setdefault(s.name, []).append(s.wall)
        return sum(statistics.median(w) * len(w) for w in walls.values()) / len(self.passes)

    def total(self, phase: str) -> float:
        return sum(getattr(s, phase) for s in self.samples) / len(self.passes)


class Bench:
    def __init__(self, workload, seed: int, run_dir: Path):
        self.workload = workload
        self.seed = seed
        self.run_dir = run_dir
        self.spark = None
        self.n_session = 0
        self.n_pass = 0
        self.next_week = 0
        #: weeks appended to the current session's trends table
        self.session_weeks: list[int] = []
        #: week_start of every timed week whose rows differ from the oracle
        self.bad_weeks: set[str] = set()
        self.checked = 0
        self.failed = 0
        self.check_failures: list[str] = []
        self.outputs: list[Sample] = []
        self._tree: list[int] = []
        from __spark_entry__ import queries

        self.queries = queries()

    # -- session ---------------------------------------------------------

    def new_session(self, eventlog: bool = False):
        from pyspark.sql import SparkSession

        from data_engineer_interview_task_spark.plans import prep_session

        r, n = self.run_dir, self.n_session
        self.n_session += 1
        self.session_weeks = []
        b = (
            SparkSession.builder.master(f"local[{CORES}]")
            .appName(f"perfbench-{n}")
            .config("spark.sql.shuffle.partitions", str(CORES))
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={r / 'tmp'}",
            )
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", str(r / "local"))
            .config("spark.sql.warehouse.dir", str(r / "warehouse" / str(n)))
            .config("spark.eventLog.enabled", "true" if eventlog else "false")
        )
        if eventlog:
            (r / "events").mkdir()
            b = (
                b.config("spark.eventLog.dir", str(r / "events"))
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        prep_session(self.spark)
        # the Python workers live under the JVM; remember them for shutdown
        self._tree = proctree.descendants(os.getpid())

    def stop_session(self) -> None:
        if self.spark is not None:
            if not self.workload.ops:
                self.check_trends()
            self._tree = proctree.descendants(os.getpid())
            self.spark.stop()
            self.spark = None

    def warm_up(self, full: bool = True) -> None:
        """Run operations on inputs no timed operation uses. When ``full``,
        run all of them, then ``WARMUP_PASSES`` passes over copies of the
        timed tables at their own paths, so the JVM's compiled code and the
        session's Python workers are warm but no memo key of a timed pass
        exists yet; else run only the first, to show the session works."""
        if self.workload.ops:
            n = self.n_session
            data = self.copy_tables(WARM_DATA, f"warm{n}")
            for name in self.workload.ops[: None if full else 1]:
                self.run_query(name, data)
            for i in range(WARMUP_PASSES if full else 0):
                data = self.copy_tables(TIMED_DATA, f"warm{n}-{i}")
                for name in self.workload.ops:
                    self.run_query(name, data)
        else:
            table = f"trends_warmup_{self.n_session}"
            for i in range(WARMUP_WEEKS if full else 1):
                # far-future weeks: no timed week shares their dates
                self.run_week(10_000 + self.n_session * WARMUP_WEEKS + i, table)

    def setup(self, full: bool) -> float:
        """Start a session (and, the first time, the JVM) and warm it up."""
        self.stop_session()
        t0 = time.perf_counter()
        self.new_session()
        self.warm_up(full)
        took = time.perf_counter() - t0
        log(f"setup {self.n_session} took {took:.2f}s")
        return took

    def copy_tables(self, src: Path, name: str) -> str:
        dst = self.run_dir / "inputs" / name
        shutil.copytree(src, dst)
        return str(dst)

    # -- operations ------------------------------------------------------

    def run_query(self, name: str, data: str) -> Sample:
        s = Sample(name)
        t0, e0 = time.perf_counter(), time.time()
        try:
            df = self.queries[name](self.spark, data)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            s.output = df.toPandas()
            t3 = time.perf_counter()
            s.build, s.plan, s.exec = t1 - t0, t2 - t1, t3 - t2
            s.build_span = (e0, e0 + s.build)
        except Exception as exc:  # counted as a failed operation
            s.error = f"{type(exc).__name__}: {str(exc)[:200]}"
        s.wall = time.perf_counter() - t0
        return s

    def run_week(self, week: int, table: str) -> Sample:
        from data_engineer_interview_task_spark.sources import ingest, sinks

        pdf = trends_week(self.seed, week)
        start, end = week_dates(week)
        s = Sample("week", output=week)
        t0, e0 = time.perf_counter(), time.time()
        try:
            df = ingest.run_trends_ingest(self.spark, pdf, start, end)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            sinks.append_to_table(self.spark, df, table)
            t3 = time.perf_counter()
            s.build, s.plan, s.exec = t1 - t0, t2 - t1, t3 - t2
            s.build_span = (e0, e0 + s.build)
        except Exception as exc:
            s.error = f"{type(exc).__name__}: {str(exc)[:200]}"
        s.wall = time.perf_counter() - t0
        return s

    def one_pass(self) -> list[Sample]:
        k = self.n_pass
        self.n_pass += 1
        if self.workload.ops:
            data = self.copy_tables(TIMED_DATA, f"pass{k}")
            return [self.run_query(n, data) for n in op_order(self.workload, self.seed, k)]
        out = []
        for _ in range(WEEKS_PER_PASS):
            week = self.next_week
            self.next_week += 1
            out.append(self.run_week(week, TRENDS_TABLE))
            self.session_weeks.append(week)
        return out

    def loop(self, seconds: float) -> Section:
        """Whole passes until ``seconds`` have gone by (at least one)."""
        sec = Section()
        root = os.getpid()
        deadline = time.perf_counter() + seconds
        while not sec.passes or time.perf_counter() < deadline:
            cpu0 = proctree.cpu_s(proctree.descendants(root))
            sec.passes.append(self.one_pass())
            sec.cpu.append(proctree.cpu_s(proctree.descendants(root)) - cpu0)
        for p in sec.passes:
            log("pass: " + " ".join(f"{s.name}={s.wall:.2f}" for s in p))
        self.outputs.extend(sec.samples)
        return sec

    # -- checks ----------------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        self.check_failures.append(what)

    def check_trends(self) -> None:
        """Compare the session's trends table, week by week, with the
        oracle over the weeks appended to it."""
        if not self.session_weeks:
            return
        import pandas as pd

        actual = self.spark.table(TRENDS_TABLE).toPandas()
        long = pd.concat([trends_long(trends_week(self.seed, w), w) for w in self.session_weeks])
        self.bad_weeks |= oracle.trends_bad_weeks(actual, long)

    def check_queries(self) -> None:
        expected = oracle.expected_results(self.workload.ops, str(TIMED_DATA))
        for s in self.outputs:
            self.checked += 1
            if s.error:
                self.fail(f"{s.name}: {s.error}")
            elif not oracle.matches(s.output, expected[s.name]):
                self.fail(f"{s.name}: output differs from the oracle")

    # -- runs ------------------------------------------------------------

    def run(self, seconds: float, traced: bool) -> dict:
        first = self.setup(full=True)
        metrics = self.traced(seconds) if traced else self.untraced(seconds)
        # The timed section runs in the first session, right after its full
        # warm-up. Set-up time is then taken on the warm JVM, several times.
        setups = [self.setup(full=False) for _ in range(SETUPS)]
        self.stop_session()
        log("session stopped")
        metrics["setup.first_s"] = first
        metrics["setup_s"] = statistics.median(setups)
        if self.workload.ops:
            self.check_queries()
        else:
            self.checked += len(self.outputs)
            for s in self.outputs:
                if s.error or week_dates(s.output)[0] in self.bad_weeks:
                    self.fail(f"week {s.output}: {s.error or 'rows differ from the oracle'}")
        for what in self.check_failures[:10]:
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        log("outputs checked")
        units = PER_LAYER if traced else END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.checked,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def untraced(self, seconds: float) -> dict:
        return {"pass_s": self.loop(seconds).pass_s()}

    def traced(self, seconds: float) -> dict:
        plain = self.loop(seconds / 2)
        self.stop_session()
        self.new_session(eventlog=True)
        self.warm_up(full=True)
        listener = probes.make_listener()
        self.spark.streams.addListener(listener)
        timers = probes.LayerTimers(os.environ["SPARK_GRAFT_ARTIFACT_DIR"])
        timers.install()
        root = os.getpid()
        dirs0 = timers.artifact_dirs()
        wchar0 = proctree.wchar(proctree.descendants(root))
        with proctree.WorkerSampler(root) as workers:
            mark = workers.mark()
            steal0, ticks0 = proctree.host_ticks()
            w0 = time.time()
            sec = self.loop(seconds / 2)
            w1 = time.time()
            steal1, ticks1 = proctree.host_ticks()
            worker_cpu = workers.cpu_since(mark)
        tree = proctree.descendants(root)
        wchar1 = proctree.wchar(tree)
        timers.uninstall()
        files = self.trends_files() if not self.workload.ops else (0, 0)
        new_dirs = timers.artifact_dirs() - dirs0
        # progress events reach the listener asynchronously
        time.sleep(1.0)
        self.spark.streams.removeListener(listener)
        self.stop_session()

        n = len(sec.passes)
        done = [s for s in sec.samples if not s.error]
        walls = sorted(s.wall for s in done) or [0.0]
        calls = timers.calls["materialized"]
        builds = timers.artifact_builds
        if builds != len(new_dirs):
            self.fail(f"artifacts: {builds} builds for {len(new_dirs)} distinct keys")
        stream = probes.streaming_metrics(listener.progress, n)
        written = (wchar1 - wchar0) / n if stream["streaming.batches"] else 0.0
        input_bytes = sum(f.stat().st_size for f in TIMED_DATA.iterdir())
        metrics = {
            # the untraced half, so the probes' own CPU is left out
            "cpu_s": statistics.median(plain.cpu),
            "operators.build_s": sec.total("build"),
            "plan.plan_s": sec.total("plan"),
            "exec.exec_s": sec.total("exec"),
            "sources.read_table_calls": timers.calls["read_table"] / n,
            "sources.read_table_s": timers.seconds["read_table"] / n,
            "artifacts.calls": calls / n,
            "artifacts.builds": builds / n,
            "artifacts.hit_ratio": 1 - builds / calls if calls else 0.0,
            "artifacts.build_s": timers.seconds["materialized"] / n,
            "artifacts.disk_mb": self.disk_bytes(new_dirs) / 2**20 / n,
            **stream,
            "streaming.written_mb": written / 2**20,
            "streaming.write_amp": written / input_bytes,
            "ingest.s": 0.0 if self.workload.ops else sec.total("build"),
            "trends.pipeline_s": timers.seconds["trends_pipeline"] / n,
            "sinks.append_s": 0.0 if self.workload.ops else sec.total("exec"),
            "sinks.files_per_append": files[0] / max(1, len(done)),
            "sinks.bytes_per_row": files[1],
            "python_workers.cpu_s": worker_cpu / n,
            "trace.overhead_ratio": statistics.median(sec.pass_times())
            / statistics.median(plain.pass_times()),
            "ops.unaccounted_max_ratio": max(
                (abs(s.wall - s.build - s.plan - s.exec) / s.wall for s in done), default=0.0
            ),
            "ops.p50_ms": statistics.median(walls) * 1000,
            "ops.p90_ms": (statistics.quantiles(walls, n=10)[8] if len(walls) > 1 else walls[0])
            * 1000,
            "peak_rss_mb": proctree.peak_rss_bytes(tree) / 2**20,
            "host.steal_ratio": (steal1 - steal0) / max(1, ticks1 - ticks0),
        }
        spans = [s.build_span for s in done]
        metrics.update(probes.exec_metrics(str(self.run_dir / "events"), (w0, w1), spans, n))
        return metrics

    def trends_files(self) -> tuple[int, float]:
        """Parquet files in this session's trends table, and its bytes per
        row."""
        table = self.run_dir / "warehouse" / str(self.n_session - 1) / TRENDS_TABLE
        parts = list(table.glob("*.parquet"))
        rows = self.spark.table(TRENDS_TABLE).count()
        return len(parts), sum(p.stat().st_size for p in parts) / max(1, rows)

    def disk_bytes(self, names) -> int:
        root = Path(os.environ["SPARK_GRAFT_ARTIFACT_DIR"])
        return sum(f.stat().st_size for d in names for f in (root / d).rglob("*") if f.is_file())

    # -- teardown --------------------------------------------------------

    def shutdown(self) -> None:
        """Stop the session, the JVM and any Python worker under it, and
        wait for each to end."""
        try:
            self.stop_session()
        except Exception as exc:
            print(f"perfbench: stopping the session failed: {exc}", file=sys.stderr)
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        tree = set(self._tree) | set(proctree.descendants(os.getpid()))
        tree.discard(os.getpid())
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        # Python workers the JVM left behind are no longer our children:
        # signal them, then poll until they are gone
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in tree:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.time() + 30
            while time.time() < deadline and any(_alive(p) for p in tree):
                time.sleep(0.1)
            if not any(_alive(p) for p in tree):
                break
        log("JVM and workers ended")


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def _alive(pid: int) -> bool:
    """Running, not a zombie waiting for a parent to reap it."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2 : raw.rindex(b")") + 3] != b"Z"


def isolate(run_dir: Path) -> None:
    """Point every temp dir the run, the engine and Spark use into
    ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # every JVM spark-submit starts, its launcher too, would otherwise write
    # its performance counters under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = str(run_dir / "artifacts")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "__spark_entry__.py").is_file() or not (ROOT / probes.PACKAGE).is_dir():
        print(f"perfbench: no engine sources in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = Path(tempfile.mkdtemp(prefix=".run-", dir=BENCH))
    try:
        isolate(run_dir)
        bench = Bench(WORKLOADS[args.workload], args.seed, run_dir)
        try:
            result = bench.run(args.seconds, bool(args.trace))
        finally:
            bench.shutdown()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
