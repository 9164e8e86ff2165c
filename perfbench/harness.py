"""Shared machinery of the benchmark: the Spark session, process
accounting, the host stamp, spans and the Spark event-log reader.

Everything the benchmark writes goes under ``WORK`` inside the checkout
(Spark local dirs, the JVM and Python temp dirs, data, event logs and
run records), so a run touches nothing outside it.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench-work")
RUN_DIR = os.path.join(WORK, "run")
RECORDS_DIR = os.path.join(WORK, "records")


def clear_run_dir() -> None:
    """Drop the run's data; records of runs are kept."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)


def prepare_work_dir() -> None:
    """Fresh per-run scratch; records of earlier runs are kept."""
    clear_run_dir()
    for d in (RUN_DIR, RECORDS_DIR, os.path.join(RUN_DIR, "tmp")):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (Spark's launcher and the Spark driver)
    # keeps its temp files and no hsperfdata file outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's python workers import the engine and the benchmark's own
    # modules (produce functions are pickled by reference)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


# --------------------------------------------------------------------------
# host
# --------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """An eighth of the host's RAM, at most 2 GiB. Every input fits in a
    fraction of that, the machine's memory is shared, and a heap that
    fills up to its cap keeps the JVM's peak RSS the same run to run."""
    mib = min(mem_total_bytes() // 8, 2 << 30) >> 20
    return f"{max(mib, 1024)}m"


def _git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, timeout=60)
    return out.stdout.strip() or None


def source_fingerprint() -> str:
    """sha256 over the engine's sources: identifies the code under test
    where the checkout carries no git metadata."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    pkg = os.path.join(ROOT, "parquet_producers_spark")
    for r, _d, fs in os.walk(pkg):
        files += [os.path.join(r, f) for f in fs if f.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def host_stamp(spark) -> dict:
    import pyarrow
    import pyspark

    props = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": nproc(),
        "mem_total_gb": round(mem_total_bytes() / 2**30, 1),
        "machine": platform.machine(),
        "java": f"{props.getProperty('java.vm.name')} "
                f"{props.getProperty('java.version')}",
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


# --------------------------------------------------------------------------
# Spark session and the processes behind it
# --------------------------------------------------------------------------

def start_spark(app: str, event_log_dir: str | None = None):
    """Session through the engine's own factory at ``local[nproc]``.
    Returns (spark, seconds to start)."""
    from parquet_producers_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": os.path.join(RUN_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        # one plain JSON-lines file, flushed at every job and stage event
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t0 = time.monotonic()
    spark = get_spark(app, cores=nproc(), extra_conf=conf)
    spark.range(1).count()  # the session is usable, not just created
    return spark, time.monotonic() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    """Every live process this one started, directly or not."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_and_comm(pid: int) -> tuple[int, str]:
    try:
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except (OSError, ValueError, IndexError):
        return 0, ""
    return pages * os.sysconf("SC_PAGE_SIZE"), comm


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its python workers), sampled from /proc. Shared pages
    of forked workers are counted once per process, as RSS does."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_total = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self) -> None:
        self.peak_total = self.peak_jvm = self.peak_python = 0
        self.sample()

    def sample(self) -> None:
        jvm = py = 0
        for pid in [os.getpid()] + descendants():
            rss, comm = _rss_and_comm(pid)
            if comm == "java":
                jvm += rss
            else:
                py += rss
        self.peak_total = max(self.peak_total, jvm + py)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait until every process
    this run started has ended."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def noop(df) -> None:
    """Run ``df``'s plan to completion and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(r, f))
    return total


# --------------------------------------------------------------------------
# closed-loop op log
# --------------------------------------------------------------------------

class OpLog:
    """Latencies per op kind plus attempted/failed counts. One client,
    closed loop: every op blocks until the engine returns."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, kind: str, fn):
        """Time ``fn()``; an exception counts the op failed and
        returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # the loop keeps going; the failure is counted
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def fail(self, n: int, why: str) -> None:
        """An output check rejected ``n`` ops that already returned."""
        self.failed += n
        self.errors.append(why[:500])

    def med(self, kind: str) -> float:
        return median(self.samples[kind])


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    sid: int = 0
    jobs: list[dict] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans recorded around calls into the engine's public functions.
    Kept in memory; written out once, at the end of the run."""

    def __init__(self, run_id: str, spark=None, event_log_dir: str = ""):
        self.run_id = run_id
        self.spark = spark
        self.event_log_dir = event_log_dir
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def sync_jobs(self) -> None:
        """Attribute every job logged so far to spans. Spark flushes the
        event log at each job and stage event; draining the listener bus
        first makes the log complete up to now."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        for s in self.spans:
            s.jobs = []
        self.attribute_jobs(read_event_log(self.event_log_dir))

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack
                 else None, run_id=self.run_id, sid=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def timed(self, name: str, fn):
        with self.span(name):
            return fn()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def attribute_jobs(self, jobs: list[dict]) -> None:
        """Each job goes to the innermost span open at its submission.
        The loop has one client, so a job never straddles two ops."""
        for j in jobs:
            t = j["submit"]
            best = None
            for s in self.spans:
                if s.start <= t <= s.end and (best is None
                                              or s.start >= best.start):
                    best = s
            if best is not None:
                best.jobs.append(j)

    def jobs_under(self, name: str) -> list[dict]:
        """Jobs of every span named ``name`` and of its descendants."""
        roots = {s.sid for s in self.named(name)}
        out = []
        for s in self.spans:
            p: int | None = s.sid
            while p is not None and p not in roots:
                p = self.spans[p].parent
            if p is not None:
                out += s.jobs
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "id": s.sid,
                    "jobs": [j["job_id"] for j in s.jobs]}) + "\n")


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"
_SPILL = ("internal.metrics.memoryBytesSpilled",
          "internal.metrics.diskBytesSpilled")


def read_event_log(event_log_dir: str) -> list[dict]:
    """Jobs from the session's event log with per-job totals:
    ``{job_id, submit (epoch s), stages, exchanges, shuffle_bytes,
    spill_bytes}``. An exchange is counted per executed stage that
    wrote shuffle output."""
    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    stage_of_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"job_id": jid,
                                 "submit": ev["Submission Time"] / 1000.0,
                                 "stages": 0, "exchanges": 0,
                                 "shuffle_bytes": 0, "spill_bytes": 0}
                    for sid in ev["Stage IDs"]:
                        stage_of_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value")
                           for a in info.get("Accumulables", [])}
                    stages[info["Stage ID"]] = acc
    for sid, acc in stages.items():
        j = jobs.get(stage_of_job.get(sid, -1))
        if j is None:
            continue
        j["stages"] += 1
        sw = int(acc.get(_SHUFFLE_WRITE) or 0)
        j["shuffle_bytes"] += sw
        j["exchanges"] += 1 if sw > 0 else 0
        j["spill_bytes"] += sum(int(acc.get(k) or 0) for k in _SPILL)
    return sorted(jobs.values(), key=lambda j: j["submit"])
