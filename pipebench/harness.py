"""Session lifetime, in-memory spans, memory sampling and the recording catalog.

Nothing here reaches inside the program: spans are taken around its
public calls (``SnapshotCatalog.write_table``, ``read_sink``, actions),
kept in memory and written out once when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

HZ = os.sysconf("SC_CLK_TCK")


def since_process_start() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up and imports are included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / HZ


def median(xs) -> float:
    return float(statistics.median(xs))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(path) for f in files
    )


def count_parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _r, _d, files in os.walk(path) for f in files)


# ------------------------------------------------------------------ spans
class Tracer:
    """Spans (name, start, end, parent) and counters, in memory until
    :meth:`dump`. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self._t0 = time.perf_counter()

    def span(self, name: str, start: float, end: float, parent: int | None = None,
             **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": parent,
            "start": start - self._t0, "end": end - self._t0, **attrs,
        })
        return len(self.spans) - 1

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.setdefault(name, []).append(value)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


# ----------------------------------------------------------------- memory
def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, frontier = [], [pid]
    while frontier:
        found = kids.get(frontier.pop(), [])
        out += found
        frontier += found
    return out


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def python_tree_pss(root_pid: int) -> int:
    """Proportional resident bytes of ``root_pid`` and its descendants,
    JVMs left out: pages shared between processes (the forked Python
    workers share most of theirs with their daemon) count once, not
    once per process."""
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            if _comm(pid) == "java":
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process ended between listing and reading
    return total


class PeakMemory:
    """Peak memory the program holds, in two parts.

    * Python processes (this one and the Python workers): peak
      :func:`python_tree_pss`, sampled every ``period`` seconds on one
      background thread.
    * The JVM: heap plus non-heap bytes in use right after full
      collections, asked for by :meth:`settle` once the measured rounds
      are over (its ``MemoryMXBean``, over py4j). The JVM's resident
      size and its heap in use between collections follow the
      collector's sizing choices (they varied up to 2x across seeds on
      the same input), so they are not used.

    ``peak`` is the sum of the two peaks."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.python_peak = 0
        self.jvm_peak = 0
        self._mx = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-memory", daemon=True)

    @property
    def peak(self) -> int:
        return self.python_peak + self.jvm_peak

    def attach(self, spark) -> None:
        self._mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def settle(self) -> None:
        """Run full collections in the JVM until what it holds stops
        shrinking, and note that. After a single one the figure still
        varied by a third between runs: Spark's cleaner drops broadcast
        and shuffle blocks only once a collection has freed what
        referred to them."""
        mx = self._mx
        used = None
        for _ in range(6):
            mx.gc()
            now = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
            if used is not None and now > 0.99 * used:
                break
            used = now
            time.sleep(0.2)
        self.jvm_peak = max(self.jvm_peak, now)

    def _run(self) -> None:
        while True:
            self.python_peak = max(self.python_peak, python_tree_pss(os.getpid()))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- session
def start_spark(work: str, n: int):
    """``local[n]`` through the program's own session factory (and its
    driver-memory setting), with all scratch space inside ``work``."""
    from log_parser_project_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="pipebench",
        parallelism=n,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, then wait until every
    process that ran under this one (JVM, Python workers) has ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 15
    alive = started
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def recording_catalog(spark, warehouse: str):
    """A ``SnapshotCatalog`` that notes each ``write_table`` call in
    ``writes`` = (table, start, end, data dir), in commit order. The
    program's ``run_pipeline`` calls it unchanged."""
    from log_parser_project_spark.catalog import SnapshotCatalog

    class RecordingCatalog(SnapshotCatalog):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.writes: list[tuple[str, float, float, str]] = []

        def write_table(self, df, table, *a, **kw):
            t0 = time.perf_counter()
            snap = super().write_table(df, table, *a, **kw)
            self.writes.append((table, t0, time.perf_counter(), snap.state[-1]["dir"]))
            return snap

    return RecordingCatalog(spark, warehouse)
