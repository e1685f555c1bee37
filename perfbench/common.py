"""Shared pieces of the benchmark: run directories, the Spark session
envelope, the stand-in process, spans, memory sampling, statistics."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import urllib.request
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BenchError(RuntimeError):
    """The benchmark cannot produce a result (no engine in the
    checkout, a helper that did not start, no op completed)."""


class RunDir:
    """Per-run scratch space inside the checkout, removed on close."""

    def __init__(self, workload: str, seed: int):
        self.path = ROOT / ".perfbench_tmp" / f"{workload}-{seed}-{os.getpid()}"
        self.path.mkdir(parents=True, exist_ok=True)

    def sub(self, name: str) -> str:
        p = self.path / name
        p.mkdir(exist_ok=True)
        return str(p)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()
        except OSError:
            pass


def start_spark(run: RunDir, app: str):
    """The engine's own session builder, inside the benchmark's
    resource envelope: ``local[nproc]``, a 2 GiB driver heap, and every
    temp/local dir inside the run directory."""
    tmp = run.sub("tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from alpaca_pyspark_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: the
    JVM exits when its stdin closes, which would otherwise happen only
    as this process exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------- JVM
class Jvm:
    """Public JVM counters read through the management beans."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        heap = spark._jvm.java.lang.management.MemoryType.HEAP
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if p.getType() == heap]

    def jit_s(self) -> float:
        return self._comp.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def reset_heap_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peaks since the last reset."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20


def group_jobs(spark, group: str) -> set[int]:
    """Ids of the jobs Spark ran under job group ``group``."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_counts(spark, jobs) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of ``jobs``, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return len(jobs), stages, tasks


# ---------------------------------------------------------- stand-in
class StandInProc:
    """The stand-in server process (``standin.py``)."""

    def __init__(self, cfg: dict):
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "standin.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            cwd=str(ROOT),
        )
        self.data_port = self.control_port = None

    def wait_ready(self, timeout: float = 120.0) -> None:
        done = threading.Event()
        line: list[bytes] = []

        def read() -> None:
            line.append(self.proc.stdout.readline())
            done.set()

        threading.Thread(target=read, daemon=True).start()
        if not done.wait(timeout) or not line[0].startswith(b"READY"):
            raise BenchError(f"stand-in did not start: {line!r}")
        _, a, b = line[0].split()
        self.data_port, self.control_port = int(a), int(b)

    @property
    def api(self) -> str:
        return f"http://127.0.0.1:{self.data_port}/v2"

    @property
    def capture(self) -> str:
        return f"http://127.0.0.1:{self.data_port}/v1"

    def call(self, path: str) -> dict:
        """GET a control-port path; returns its JSON."""
        url = f"http://127.0.0.1:{self.control_port}{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.loads(resp.read())

    def stats(self, new_epoch: bool = False) -> dict:
        return self.call("/stats?epoch=1" if new_epoch else "/stats")

    def close(self) -> None:
        """Close its stdin, which ends it, and wait for it."""
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def diff(after: dict, before: dict) -> dict:
    out = {}
    for k, v in after.items():
        if isinstance(v, list):
            out[k] = [a - b for a, b in zip(v, before[k])]
        else:
            out[k] = v - before[k]
    return out


# --------------------------------------------------------------- ops
def attempt(op, tracer) -> dict:
    """Run one op; an op that raises is recorded as failed, never
    dropped."""
    try:
        return op(tracer)
    except Exception:  # the run goes on; the op counts against success_frac
        traceback.print_exc()
        return {"t0": None, "t1": time.monotonic(), "latency": None, "rows": 0, "ok": False}


def closed_loop(op, tracer, seconds: float) -> list[dict]:
    """One client: the next op starts when the previous one ends."""
    deadline = time.monotonic() + seconds
    ops: list[dict] = []
    while time.monotonic() < deadline:
        tracer.op = len(ops)
        ops.append(attempt(op, tracer))
    tracer.op = None
    return ops


# ------------------------------------------------------------ memory
def _tree_pss_kb(root_pid: int) -> dict[str, int]:
    """Proportional set size of ``root_pid`` and its descendants, from
    /proc, split into the driver JVM, the driver Python (``root_pid``)
    and Python workers; the benchmark's own helper processes (stand-in,
    oracle check) are left out.  PSS splits shared pages between the
    processes mapping them, so forked Python workers and a JVM's
    short-lived spawn helpers are not counted twice."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    helpers = str(HERE).encode() + b"/"
    out = {"jvm": 0, "driver": 0, "workers": 0}
    todo = [root_pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
            if p != root_pid and any(a.startswith(helpers) for a in args):
                continue
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            kind = "driver" if p == root_pid else "jvm" if args[0].endswith(b"java") else "workers"
            out[kind] += kb
        except (OSError, StopIteration):
            pass  # the process ended while we looked
        todo.extend(children.get(p, ()))
    return out


class RssSampler:
    """Peak resident memory (as PSS) of this process tree: driver
    Python, driver JVM and Python workers.  Sampled twice a second:
    reading a process's PSS walks its page tables under its memory-map
    lock, so sampling faster would slow the JVM it measures."""

    def __init__(self):
        self.peak_kb = {"jvm": 0, "driver": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.5):
            sample = _tree_pss_kb(os.getpid())
            if sum(sample.values()) > sum(self.peak_kb.values()):
                self.peak_kb = sample

    def close(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return sum(self.peak_kb.values()) / 1024


# ------------------------------------------------------------- spans
class Tracer:
    """In-memory spans: (name, start, end, parent, op).  Off, it
    records nothing and costs one attribute test per call."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        rec = {
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span observed elsewhere (e.g. by the stand-in)."""
        if self.on:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent,
                 "op": self.op, **attrs}
            )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -------------------------------------------------------- statistics
def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, ops beyond it) at the highest percentile that
    still has ten ops beyond it: the (n-10)-th smallest of n latencies.
    Fewer than eleven ops leave the maximum, with fewer beyond it."""
    s = sorted(xs)
    k = max(0, len(s) - 11)
    return s[k], 100.0 * (k + 1) / len(s), len(s) - k - 1


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
