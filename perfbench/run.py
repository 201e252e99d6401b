#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the validation + drift engine.

Run from the repository root:

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 20 --trace 0

One process and one closed-loop client: after set-up (session start, input
generation and input open) the workload's cycle runs back to back, one
operation at a time, until ``--seconds`` have passed, at least once.  Spark
runs ``local[k]`` with k = min(4, cores).  Set-up writes the workload's inputs
from the seed in the measured JVM on every run, so every run reaches its
first timed operation in the same state; with the benchmark's
``run_seconds`` of 1 that first cycle is the only one.

``--trace 0`` reports the end-to-end metrics (medians over the timed cycles).
``--trace 1`` runs the same cycle with the Spark event log on and every call
into the engine labelled with a job group, then calls each layer's public
function on the same input, and reports the per-layer metrics.  The traced
cycle runs twice and its deterministic counters must repeat exactly.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  Everything the run writes lives
under ``.bench_data/perfbench/`` in the repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_data" / "perfbench"
CORES = min(4, os.cpu_count() or 1)
JVM_HEAP = "3g"


# --------------------------------------------------------------------- spans
class Spans:
    """In-memory spans around each call into the engine.

    With ``label=True`` each span also becomes the Spark job group of the
    jobs it starts, so the event log attributes their work to it."""

    def __init__(self, spark, label: bool):
        self.spark = spark
        self.label = label
        self.records: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.label:
            sc.setJobGroup(name, name)
        rec = {"name": name, "parent": parent, "cpu_start": tree_cpu_s(),
               "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_end"] = tree_cpu_s()
            self.records.append(rec)
            self._stack.pop()
            if self.label:
                if self._stack:
                    sc.setJobGroup(self._stack[-1], self._stack[-1])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> float:
        return sum(wall(r) for r in self.records if r["name"] == name)


def wall(rec: dict) -> float:
    return rec["end"] - rec["start"]


def cpu(rec: dict) -> float:
    return rec["cpu_end"] - rec["cpu_start"]


# ---------------------------------------------------------- process handling
def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat(int(d))[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


CLOCK_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (field 3 onwards)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the
    gateway JVM, whose threads run every Spark task, and Python workers.
    Time the host steals from this machine is not counted, so the CPU
    metrics stay steadier than the wall-time ones beside them."""
    ticks = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            ticks += sum(int(x) for x in _stat(pid)[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass  # exited while being read; its time moved to its parent
    return ticks / CLOCK_TICK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak resident set of one process, sampled from /proc while active."""

    def __init__(self, pid: int, period_s: float = 0.05):
        self.pid = pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _rss_mb(self.pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------------ session
class Session:
    """A Spark session in its own gateway JVM.  ``stop`` ends the JVM and
    every process it started, and waits until each has ended."""

    def __init__(self, run_dir: Path, event_log: Path | None):
        from mlops_drift_detection_spark.session import get_spark

        tmp = WORK / "tmp"
        for d in (tmp, run_dir / "spark-local"):
            d.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.driver.memory": JVM_HEAP,
            # no hsperfdata file in the system /tmp
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                # Spark 4 writes zstd by default; no Python decoder is installed
                "spark.eventLog.compress": "false",
                # Spark 4 rolls the log into a directory by default; one file
                # keeps the reader simple
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=2 * CORES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway = self.spark.sparkContext._gateway

    @property
    def jvm_pid(self) -> int:
        return self.gateway.proc.pid

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.gateway is None:
            return
        procs = _descendants(os.getpid())
        self.spark.stop()
        self.gateway.shutdown()
        # the next Session launches a new JVM instead of reusing this one
        SparkContext._gateway = SparkContext._jvm = None
        proc, self.gateway = self.gateway.proc, None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in procs:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


# -------------------------------------------------------------------- main
def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    import workloads  # the engine package is imported through it

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    # every temporary file of this process and of the JVMs stays in WORK
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None

    run_dir = WORK / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    event_log = run_dir / "eventlog" if args.trace else None

    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir)
    t_session = time.perf_counter()
    session = Session(run_dir, event_log)
    session_s = time.perf_counter() - t_session
    try:
        spark = session.spark
        spans = Spans(spark, label=bool(args.trace))
        t_gen = time.perf_counter()
        wl.generate(spark)
        gen_s = time.perf_counter() - t_gen
        wl.open(spark)
        setup_s = time.perf_counter() - T_PROCESS
        print(f"session {session_s:.2f} s, inputs {gen_s:.2f} s, set-up {setup_s:.2f} s",
              file=sys.stderr)

        if args.trace:
            result = wl.traced(spans, event_log_dir=event_log, stop=session.stop)
            failures = result.failures
            metrics = {"session.start_s": metric(session_s, "s"), **result.metrics}
            attempted, failed = result.attempted, result.failed
            with open(run_dir / "spans.json", "w") as f:
                json.dump(spans.records, f)
        else:
            cycles = []
            deadline = time.perf_counter() + args.seconds
            with RssSampler(session.jvm_pid) as rss:
                while not cycles or time.perf_counter() < deadline:
                    cycles.append(wl.cycle(spans, f"c{len(cycles)}"))
            for c in cycles:
                print(f"cycle: {wall(c.cycle):.2f} s wall, {cpu(c.cycle):.2f} s CPU",
                      file=sys.stderr)
            failed = sum(1 for c in cycles if c.failures)
            failures = [f for c in cycles for f in c.failures] + wl.self_test()
            attempted = len(cycles)
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "cycle_cpu_s": metric(median([cpu(c.cycle) for c in cycles]), "cpu_s"),
                "rows_per_cpu_s": metric(
                    median([c.rows / cpu(c.primary) for c in cycles]), "rows/cpu_s"),
                "baseline_cpu_s": metric(median([cpu(c.baseline) for c in cycles]), "cpu_s"),
                "peak_rss_mb": metric(rss.peak_mb, "MB"),
            }
    finally:
        session.stop()
        for d in ("spark-local", "warehouse", "eventlog", "fixtures"):
            shutil.rmtree(run_dir / d, ignore_errors=True)
        if not args.trace:
            shutil.rmtree(run_dir, ignore_errors=True)
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
