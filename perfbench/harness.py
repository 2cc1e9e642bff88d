"""Measurement plumbing shared by every workload: the run context with its
closed-loop op accounting, spans, Spark stage metrics per operation, the
process-tree RSS sampler and the session lifecycle."""

from __future__ import annotations

import math
import os
import signal
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

PAGE = os.sysconf("SC_PAGE_SIZE")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ stats

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail_percentile(xs, want: float = 90.0, min_beyond: int = 10):
    """(p, value) for the highest percentile <= ``want`` that leaves at
    least ``min_beyond`` samples above it, or None when the sample is too
    small for even the median to qualify."""
    n = len(xs)
    if n == 0:
        return None
    p = min(want, 100.0 * (n - min_beyond) / n)
    if p < 50.0:
        return None
    s = sorted(xs)
    k = (n - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    v = s[lo] + (s[hi] - s[lo]) * (k - lo)
    return round(p, 1), float(v)


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans: name, start, end, parent, op id.  Self time of a span
    is its duration minus the time its direct children cover."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter() - self.t0, "end": None,
               "parent": parent, "op": op_id}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def self_times(self, lo: int = 0) -> list[float]:
        """Self time of every span recorded at index >= ``lo``."""
        own = [s["end"] - s["start"] for s in self.spans[lo:]]
        for i, s in enumerate(self.spans[lo:]):
            p = s["parent"]
            if p is not None and p >= lo:
                own[p - lo] -= s["end"] - s["start"]
        return own

    def under(self, i: int, prefix: str) -> bool:
        """True when an ancestor of span ``i`` has a name starting with
        ``prefix``."""
        p = self.spans[i]["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False


# ------------------------------------------------- Spark stage metrics

_FINAL_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


class StageProbe:
    """Per-operation Spark task metrics via job groups: every job an
    operation triggers runs under its own group, and the stages of those
    jobs are read back from the status store once the listener has seen
    them finish."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def begin(self, op: str) -> str:
        self.n += 1
        gid = f"perfbench-{op}-{self.n}"
        self.sc.setJobGroup(gid, f"perfbench {op}")
        return gid

    def collect(self, gid: str, wait_s: float = 3.0) -> dict:
        sc = self.sc
        sc.setJobGroup("perfbench-idle", "perfbench bookkeeping")
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        deadline = time.perf_counter() + wait_s
        while True:
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(gid)]
            stage_ids = sorted({s for j in jobs if j is not None for s in j.stageIds})
            stages = []
            for sid in stage_ids:
                try:
                    stages.append(store.lastStageAttempt(int(sid)))
                except Exception:  # stage never submitted (skipped plan)
                    continue
            pending = [s for s in stages if str(s.status().toString()) not in _FINAL_STAGE]
            if not pending or time.perf_counter() > deadline:
                break
            time.sleep(0.02)
        out = {"jobs": len(jobs), "stages": len(stages), "task_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0, "peak_execution_memory": 0, "failed_tasks": 0}
        for s in stages:
            out["task_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            out["shuffle_read_bytes"] += int(s.shuffleReadBytes())
            out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            out["peak_execution_memory"] = max(out["peak_execution_memory"],
                                               int(s.peakExecutionMemory()))
            out["failed_tasks"] += int(s.numFailedTasks())
        return out


# ---------------------------------------------------------- run context

class Op:
    """One attempted operation; a failed check marks it failed once."""

    def __init__(self, run, name: str):
        self.run, self.name = run, name
        self.failed = False
        self.seconds = 0.0
        self.units = 0  # work done (tokens, docs), for throughput

    def check(self, ok: bool, msg: str) -> bool:
        if not ok and not self.run.record:
            raise AssertionError(f"{self.name} (warm-up): {msg}")
        if not ok and not self.failed:
            self.failed = True
            self.run.failed += 1
            self.run.failures.append(f"{self.name}: {msg}")
            log(f"check failed: {self.name}: {msg}")
        return ok


class Run:
    """Closed-loop accounting for one workload run: every timed operation is
    attempted once, timed, optionally traced, and may be failed by its
    output checks."""

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.calls: dict[str, list[Op]] = {}  # op name -> recorded calls
        self.order: list[Op] = []  # every recorded call, in call order
        self.tracing = False
        self.tracer = Tracer()
        self.stage_probe = StageProbe(spark)
        self.stage_metrics: dict[str, list[dict]] = {}
        self.record = True  # False during warm-up: nothing is counted
        self.shared: dict = {}  # inputs one workload part hands to the next

    @contextmanager
    def op(self, name: str, call: str):
        """Time one call into the library.  ``name`` is the operation, ``call``
        the public function it enters (the span name when tracing)."""
        o = Op(self, name)
        if self.record:
            self.attempted += 1
        gid = self.stage_probe.begin(name) if self.tracing else None
        span = (self.tracer.span(call, op_id=self.attempted, op=name) if self.tracing
                else nullcontext())
        with span:
            t0 = time.perf_counter()
            try:
                yield o
            except Exception as e:  # a raising operation is a failed operation
                if not self.record:
                    raise
                o.check(False, f"raised {type(e).__name__}: {e}")
            finally:
                o.seconds = time.perf_counter() - t0
        if gid is not None:
            m = self.stage_probe.collect(gid)
            m["wall_s"] = o.seconds
            self.stage_metrics.setdefault(name, []).append(m)
        if self.record:
            self.calls.setdefault(name, []).append(o)
            self.order.append(o)

    def seconds(self, name: str) -> list[float]:
        """Durations of the calls of ``name`` that passed their checks."""
        return [o.seconds for o in self.calls.get(name, []) if not o.failed]

    def rates(self, name: str) -> list[float]:
        """Units per second of the calls of ``name`` that passed."""
        return [o.units / o.seconds for o in self.calls.get(name, [])
                if not o.failed and o.seconds > 0]


# ------------------------------------------------------------ processes

def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    kids.extend(int(x) for x in f.read().split())
            except OSError:
                continue
    except OSError:
        pass
    return kids


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler(threading.Thread):
    """Samples the summed RSS of the driver, the JVM and the Python workers
    every ``interval`` seconds; keeps the peaks."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_total = 0
        self.peak_jvm = 0
        self.peak_workers = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        total = jvm = workers = 0
        for pid in process_tree(me):
            rss = _rss_bytes(pid)
            total += rss
            if pid == me:
                continue
            if _comm(pid) == "java":
                jvm += rss
            else:
                workers += rss
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


# ------------------------------------------------------ session lifecycle

def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    descendants = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
    except Exception as e:
        log(f"spark.stop raised {e!r}")
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    alive = descendants
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and _state(p) != "Z"]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in alive:
        try:
            os.waitpid(p, 0)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"
