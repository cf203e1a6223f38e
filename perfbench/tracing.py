"""Measurement sources that live outside the engine.

Three sources feed the per-layer metrics of a traced run:

- ``Tracer``: timing wrappers the benchmark installs around the engine's
  public layer calls and around the DataFrame actions and writer saves the
  driver issues. Each wrapper patches the name the *caller* resolves (a
  module attribute, or a name a module bound with ``from ... import``).
- ``parse_event_log``: Spark's own event log (uncompressed, non-rolling),
  folded into per-op job/stage/task counts and task metrics by submission
  time.
- ``ProcTree``: CPU and peak RSS of the driver Python, the JVM and the
  pyspark worker daemon with its workers, read from ``/proc``.

Nothing here imports pyspark at module level, so the self-test can run it
without a JVM.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import threading
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- spans ---
class Tracer:
    """In-memory spans around patched callables.

    A span records its layer, wall start and self time: its duration minus
    the time covered by spans it encloses on the same thread. A call into
    the layer that is already innermost on the stack (a builder calling a
    sibling builder of its own module, ``first`` calling ``collect``) is
    folded into the enclosing span, so each layer is counted once.
    """

    def __init__(self) -> None:
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[tuple[str, float, float]] = []  # (layer, wall start, self s)

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, owner: object, name: str, layer: str) -> None:
        """Replace ``owner.name`` with a timing wrapper for ``layer``."""
        orig = getattr(owner, name)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            if stack and stack[-1][0] == layer:
                return orig(*args, **kwargs)
            frame = [layer, 0.0]
            stack.append(frame)
            wall = time.time()
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                stack.pop()
                if stack:
                    stack[-1][1] += dur
                with tracer._lock:
                    tracer.spans.append((layer, wall, dur - frame[1]))

        setattr(owner, name, traced)

    def wrap_module(self, module, layer: str) -> None:
        """Wrap every public function defined in ``module``."""
        for name, fn in list(vars(module).items()):
            if (
                not name.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == module.__name__
            ):
                self.wrap(module, name, layer)

    def window(self, t0: float, t1: float) -> dict[str, tuple[int, float]]:
        """{layer: (spans, self seconds)} for spans starting in [t0, t1]."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        with self._lock:
            spans = list(self.spans)
        for layer, start, self_s in spans:
            if t0 <= start <= t1:
                out[layer][0] += 1
                out[layer][1] += self_s
        return {k: (v[0], v[1]) for k, v in out.items()}


def install_action_wrappers(tracer: Tracer) -> None:
    """Time every DataFrame action and writer save as layer 'driver'."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for name in ("collect", "count", "take", "head", "first", "tail", "isEmpty",
                 "toPandas", "toLocalIterator", "foreach", "foreachPartition", "show"):
        tracer.wrap(DataFrame, name, "driver")
    for name in ("save", "parquet", "json", "csv", "orc", "text",
                 "saveAsTable", "insertInto"):
        tracer.wrap(DataFrameWriter, name, "driver")


# ----------------------------------------------------------- event log ---
ACC = {
    "run_ms": "internal.metrics.executorRunTime",
    "cpu_ns": "internal.metrics.executorCpuTime",
    "gc_ms": "internal.metrics.jvmGCTime",
    "shuffle_write": "internal.metrics.shuffle.write.bytesWritten",
    "shuffle_read_remote": "internal.metrics.shuffle.read.remoteBytesRead",
    "shuffle_read_local": "internal.metrics.shuffle.read.localBytesRead",
    "spill_disk": "internal.metrics.diskBytesSpilled",
}


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def parse_event_log(lines) -> tuple[list[int], list[dict]]:
    """Job submission times (ms) and completed stages from event-log lines.

    Each stage is ``{"submitted": ms, "tasks": n, <ACC keys>: value}``;
    stages a job skipped never complete and are not listed.
    """
    jobs: list[int] = []
    stages: list[dict] = []
    for line in lines:
        if '"SparkListenerJobStart"' not in line and '"SparkListenerStageCompleted"' not in line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(int(ev["Submission Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            st = {"submitted": int(info.get("Submission Time", 0)),
                  "tasks": int(info.get("Number of Tasks", 0))}
            for key, name in ACC.items():
                st[key] = float(acc.get(name) or 0)
            stages.append(st)
    return jobs, stages


def spark_window(jobs: list[int], stages: list[dict], t0: float, t1: float) -> dict:
    """Engine-wide metrics for work submitted in the wall window [t0, t1] s."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    inside = [s for s in stages if lo <= s["submitted"] <= hi]
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": float(sum(1 for j in jobs if lo <= j <= hi)),
        "spark.stages": float(len(inside)),
        "spark.tasks": float(sum(s["tasks"] for s in inside)),
        "spark.executor_run_s": sum(s["run_ms"] for s in inside) / 1000.0,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in inside) / 1e9,
        "spark.jvm_gc_s": sum(s["gc_ms"] for s in inside) / 1000.0,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in inside) / mb,
        "spark.shuffle_read_mb": sum(
            s["shuffle_read_remote"] + s["shuffle_read_local"] for s in inside
        ) / mb,
        "spark.spill_mb": sum(s["spill_disk"] for s in inside) / mb,
    }


# ---------------------------------------------------------------- /proc ---
def read_stat(pid: int) -> tuple[int, int, int, int, int]:
    """(ppid, utime, stime, cutime, cstime) in clock ticks."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), int(rest[11]), int(rest[12]), int(rest[13]), int(rest[14])


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = read_stat(int(name))[0]
        except (OSError, ValueError, IndexError):
            continue  # exited while scanning
        kids[ppid].append(int(name))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = children_map() if kids is None else kids
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def host_steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / CLK_TCK


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """The benchmark's process tree: this Python, the JVM it launched, and
    the pyspark daemon with its forked workers."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid

    def roles(self) -> tuple[list[int], list[int]]:
        """(daemon pids, worker pids) currently alive under the JVM."""
        kids = children_map()
        daemons = [p for p in kids.get(self.jvm, []) if "pyspark.daemon" in _cmdline(p)]
        workers = [w for d in daemons for w in descendants(d, kids)]
        return daemons, workers

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by role. Worker CPU includes exited
        workers the daemon reaped (its cutime/cstime)."""
        daemons, workers = self.roles()
        _, ju, js, _, _ = read_stat(self.jvm)
        py = 0
        for pid in daemons:
            _, u, s, cu, cs = read_stat(pid)
            py += u + s + cu + cs
        for pid in workers:
            try:
                _, u, s, _, _ = read_stat(pid)
            except OSError:
                continue  # exited between listing and reading
            py += u + s
        t = os.times()
        return {
            "proc.cpu_jvm_s": (ju + js) / CLK_TCK,
            "proc.cpu_pyworker_s": py / CLK_TCK,
            "proc.cpu_driver_py_s": t.user + t.system,
            "proc.steal_s": host_steal_s(),
        }

    def peak_rss_mb(self) -> float:
        """Sum of each live process's peak RSS (VmHWM)."""
        daemons, workers = self.roles()
        pids = [os.getpid(), self.jvm, *daemons, *workers]
        return sum(vm_hwm_kb(p) for p in pids) / 1024.0


def jvm_pid_of(parent: int) -> int:
    kids = children_map()
    for pid in descendants(parent, kids):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no JVM found under this process")
