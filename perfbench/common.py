"""Shared harness pieces: the Spark session the program builds, spans,
Spark event-log accounting and small statistics helpers.

Nothing here changes the program's behaviour. The session comes from the
program's own ``session.get_spark``; the benchmark only sizes it to the
cores it runs on and, for traced runs, turns on Spark's event log through
JVM system properties read when a SparkContext starts.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def parse_ts(iso: str) -> float:
    """Epoch seconds of a streaming progress timestamp (UTC, ISO 8601)."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


class Env:
    """Per-run working directory and process environment.

    Everything a run writes (spool, checkpoints, sinks, Spark scratch,
    event logs) lives under ``<checkout>/.bench_work/<run id>``, which is
    removed when the run ends. Trace files go to ``.bench_work/traces``
    and are kept.
    """

    def __init__(self, root: Path, workload: str, cpus: int):
        self.root = root
        self.run_id = f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
        self.work = root / ".bench_work" / self.run_id
        self.events = self.work / "events"
        self.traces = root / ".bench_work" / "traces"
        for d in (self.work / "tmp", self.work / "local", self.events, self.traces):
            d.mkdir(parents=True, exist_ok=True)
        self.cpus = cpus
        tmp = str(self.work / "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["SPARK_WAREHOUSE_DIR"] = str(self.work / "warehouse")
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        # spark-submit first runs a launcher JVM, which takes its own options
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                # no hsperfdata file under /tmp: a run writes only inside its checkout
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
                "--conf spark.ui.showConsoleProgress=false",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
                f"--conf spark.eventLog.dir=file://{self.events}",
                "pyspark-shell",
            ]
        )
        self.spark = None
        self.session_starts: list[float] = []

    def start_session(self, event_log: bool = False) -> None:
        """(Re)start the program's session and record how long it took.

        A stopped SparkContext is replaced in the same JVM, so only the
        first call pays the JVM launch."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        if SparkContext._jvm is not None:
            SparkContext._jvm.java.lang.System.setProperty(
                "spark.eventLog.enabled", "true" if event_log else "false"
            )
        elif event_log:
            raise RuntimeError("the first session of a run starts without an event log")
        from wallaroo_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_starts.append(dt)

    def close(self) -> None:
        """Stop the session, end the JVM and wait until it has exited, then
        remove the run's working directory. The JVM exits when its stdin
        closes; left to the interpreter's exit, it would still be shutting
        down, at full CPU, when the next run starts."""
        import shutil
        import subprocess

        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch s), parent span id, run id
    and free-form attributes. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        rec = {
            "run": self.run_id,
            "name": name,
            "parent": st[-1] if st else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec["id"])
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a micro-batch progress),
        as a child of the innermost open span of this thread."""
        if not self.enabled:
            return
        st = self._stack()
        with self._lock:
            self.spans.append(
                {"run": self.run_id, "name": name, "parent": st[-1] if st else None,
                 "start": start, "end": end, "id": len(self.spans), **attrs}
            )

    def write(self, path: Path) -> None:
        if self.enabled:
            with open(path, "w") as f:
                for s in self.spans:
                    f.write(json.dumps(s) + "\n")


# -- Spark event log ---------------------------------------------------------


class EventLog:
    """Job and task records from one SparkContext's event log (read after
    the context stopped: stopping is what flushes the log)."""

    def __init__(self, events_dir: Path, app_id: str):
        self.job_starts: list[float] = []
        self.tasks: list[dict] = []  # {start, end, shuffle, spill}
        with open(events_dir / app_id) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.job_starts.append(ev["Submission Time"] / 1000)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    self.tasks.append(
                        {
                            "start": info["Launch Time"] / 1000,
                            "end": info["Finish Time"] / 1000,
                            "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        }
                    )

    def window(self, start: float, end: float) -> dict:
        """Accounting for the wall interval [start, end] (epoch s): jobs
        submitted in it, tasks launched in it, the time at least one task
        ran (busy) and the rest (gap: planning, job sequencing, collects)."""
        jobs = [j for j in self.job_starts if start <= j <= end]
        tasks = [t for t in self.tasks if start <= t["start"] <= end]
        ivs = sorted((max(t["start"], start), min(t["end"], end)) for t in tasks)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        wall = end - start
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "busy_s": busy,
            "gap_s": max(0.0, wall - busy),
            "shuffle_bytes": sum(t["shuffle"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
        }
