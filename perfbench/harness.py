"""Measurement plumbing shared by the workloads: span recorder, Spark
job/stage/task/shuffle counters, process-tree peak RSS and CPU time, order
statistics and the op ledger that times, checks and counts every
operation.

Nothing here imports pyspark at module level, so ``run.py`` can fail fast
(exit 2) in a directory that lacks the engine sources."""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
import urllib.request
from contextlib import contextmanager, nullcontext


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id).

    Disabled tracers record nothing, so the untraced run pays one
    attribute test per span.  Spans live in a list until ``dump``."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def wrapped(tracer: Tracer, module, attr: str, span_name: str):
    """Replace ``module.attr`` by a span-recording wrapper for the block's
    duration.  Only for functions the engine resolves through the module
    at call time on the DRIVER (never for code shipped to workers)."""
    orig = getattr(module, attr)

    def wrapper(*a, **kw):
        with tracer.span(span_name):
            return orig(*a, **kw)

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, orig)


# --------------------------------------------------------- spark counters

class SparkCounts:
    """Jobs, stages, completed tasks and shuffle-write bytes of the Spark
    jobs one call launched, found through a per-call job group.  Stage
    shuffle bytes come from the local UI's REST API (127.0.0.1)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app_id = self.sc.applicationId
        port = (self.sc.uiWebUrl or "").rsplit(":", 1)[-1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.app_id}"
        self._n = 0

    @contextmanager
    def group(self, name: str, sink: dict):
        """Run the block under a fresh job group; fill ``sink`` with the
        group's counts after the block returns."""
        self._n += 1
        gid = f"pb-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("pb-idle", "idle")
        sink.update(self._collect(gid))

    def _rest(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _collect(self, gid: str) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(gid))
        # the status store is fed by an asynchronous listener bus: wait
        # until every job of the group reads finished before counting
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.02)
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = shuffle = 0
        for sid in sorted(stages):
            try:
                attempts = self._rest(f"/stages/{sid}")
            except OSError:
                continue  # skipped stage: never ran, so the UI has no entry
            ran = [a for a in attempts if a.get("status") == "COMPLETE"]
            if not ran:
                continue
            n_stages += 1
            n_tasks += sum(a.get("numCompleteTasks", 0) for a in ran)
            shuffle += sum(a.get("shuffleWriteBytes", 0) for a in ran)
        return {
            "spark_jobs": len(job_ids),
            "spark_stages": n_stages,
            "spark_tasks": n_tasks,
            "shuffle_bytes": shuffle,
        }


# ---------------------------------------------------------------- memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree() -> list[tuple[int, int]]:
    """(pid, parent pid) of this driver and every process below it."""
    kids = _children_map()
    out, todo = [], [(os.getpid(), os.getppid())]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((c, pid) for c in kids.get(pid, []))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # utime, stime, cutime, cstime (stat fields 14-17): a worker that
    # exits and is reaped moves its time into its parent's cutime/cstime
    return sum(int(x) for x in fields[11:15])


def cpu_seconds() -> float:
    """CPU time used so far by the driver, the JVM and the python workers.
    Time the host steals from this VM is charged to none of them, so on a
    shared host CPU time varies about half as much between runs as wall
    time."""
    return sum(_cpu_ticks(pid) for pid, _ in _tree()) / os.sysconf("SC_CLK_TCK")


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class PeakRss:
    """Samples the driver, the Spark JVM (the driver's child) and the
    pyspark daemon with its forked python workers every ``period`` s.
    Short-lived helpers the JVM spawns (chmod, jspawnhelper, the pre-exec
    copy of a forking JVM) are left out: they would count the JVM's pages
    a second time for a few milliseconds.

    peak_mb is the sum over every counted process of its own peak RSS
    (VmHWM), an upper bound on their simultaneous peak that does not
    depend on when a sample lands.  ``descendants`` lets the caller wait
    for the whole tree to end."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
        self.sample()

    def descendants(self) -> list[int]:
        return [pid for pid, _ in _tree()]

    def sample(self) -> None:
        me = os.getpid()
        for pid, ppid in _tree():
            if pid != me and ppid != me and not _is_pyspark_daemon(pid):
                continue
            kb = _hwm_kb(pid)
            if kb is not None and kb > self.hwm.get(pid, 0):
                self.hwm[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm.values()) / 1024.0


def _is_pyspark_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def stop_spark(spark, rss: PeakRss, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process below this driver has exited (SIGKILL after ``timeout``)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - gateway already gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 - TimeoutExpired
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + timeout
        me = os.getpid()
        while True:
            left = [p for p in rss.descendants() if p != me]
            if not left:
                break
            if time.monotonic() > deadline:
                for p in left:
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
                deadline = time.monotonic() + 10
            time.sleep(0.1)


# ------------------------------------------------------------- statistics

def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    ys = sorted(xs)
    return 100.0 * (n - 10) / n, ys[n - 11]


# ------------------------------------------------------------- op ledger

class Ledger:
    """Times, checks and counts operations of one closed-loop client:
    wall time and the CPU time of the whole process tree per op.

    ``run`` times ``call`` alone; ``check`` runs afterwards, outside the
    timed region, and raises on a wrong result.  Any exception counts the
    op as failed (its latency is dropped: a failed op meets no limit)."""

    def __init__(self, tracer: Tracer, counts: SparkCounts):
        self.tracer = tracer
        self.counts = counts
        self.attempted = 0
        self.failed = 0
        self.lat: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.spark: dict[str, list[dict]] = {}

    def run(self, name: str, call, check):
        """Returns call's result, or None when the op failed."""
        self.attempted += 1
        sink: dict = {}
        counted = self.counts.group(name, sink) if self.tracer.enabled else nullcontext()
        try:
            # counts are gathered when the group closes, after the span
            # and the timed region have ended
            with counted, self.tracer.span(name):
                c0 = cpu_seconds()
                t0 = time.perf_counter()
                out = call()
                dt = time.perf_counter() - t0
                cpu = cpu_seconds() - c0
            check(out)
        except Exception:  # noqa: BLE001 - benchmark boundary: count, log, go on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.lat.setdefault(name, []).append(dt)
        self.cpu.setdefault(name, []).append(cpu)
        if sink:
            self.spark.setdefault(name, []).append(sink)
        return out

    def count(self, name: str, key: str) -> float:
        """Median of a Spark count over the recorded calls of ``name``
        (0 when the workload never made that call)."""
        vals = [s[key] for s in self.spark.get(name, [])]
        return median(vals) if vals else 0.0


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)
