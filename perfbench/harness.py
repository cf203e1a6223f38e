"""Run protocol for one workload in one fresh process.

    process start -> JVM up -> inputs generated -> warm-up ops   (setup_s)
    repeat { gc.collect(); timed op; untimed bookkeeping }        (ops)
    until the timed ops add up to --seconds (or the workload's max_ops);
    then check outputs.

Noise controls: a fixed ``local[N]`` (N = min(4, usable cores)) with N
shuffle partitions, a 3 GiB driver heap, every scratch file under one work
directory inside the checkout (deleted at exit), untimed warm-up ops,
garbage collection outside the timed window, and host steal and load
recorded on stderr at the start and end of the run.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import tracing
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "3g"

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "items/s",
                    "peak_rss_mb": "MB"}
SPARK_METRICS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
                 "spark.executor_cpu_s", "spark.jvm_gc_s", "spark.shuffle_write_mb",
                 "spark.shuffle_read_mb", "spark.spill_mb"]
PROC_METRICS = ["proc.cpu_jvm_s", "proc.cpu_pyworker_s", "proc.cpu_driver_py_s", "proc.steal_s"]
# span layer -> its self-time metric
SPAN_LAYERS = {
    "sources.fetch": "sources.fetch.build_s",
    "operators.frontier": "operators.frontier.build_s",
    "operators.seen_filter": "operators.seen_filter.build_s",
    "operators.extract": "operators.extract.build_s",
    "operators.fuzzy": "operators.fuzzy.build_s",
    "operators.dedup": "operators.dedup.build_s",
    "plans.enrich": "plans.enrich.build_s",
    "sources.warc": "sources.warc.build_s",
    "images": "images.build_s",
    "plans.corpus": "plans.corpus.build_s",
    "lake.append": "lake.append_s",
    "lake.read": "lake.read_s",
    "lake.expire": "lake.expire_s",
    "driver": "driver.action_s",
}
OUTPUT_METRICS = ["plans.crawl.waves", "plans.crawl.pages_per_wave",
                  "plans.crawl.new_per_candidate", "plans.enrich.records_per_page",
                  "images.decode_ok_ratio", "plans.corpus.kept_per_pair",
                  "operators.seen_filter.maybe_seen_ratio"]


def layer_units() -> dict[str, str]:
    units = {m: ("count" if m in ("spark.jobs", "spark.stages", "spark.tasks") else
                 "MB" if m.endswith("_mb") else "s") for m in SPARK_METRICS + PROC_METRICS}
    units.update({m: "s" for m in SPAN_LAYERS.values()})
    units.update({"driver.actions": "count", "lake.append_calls": "count",
                  "lake.written_mb": "MB", "trace.op_p50_s": "s"})
    units.update({m: "ratio" for m in OUTPUT_METRICS})
    units.update({"plans.crawl.waves": "count", "plans.crawl.pages_per_wave": "count"})
    return units


def process_start_epoch() -> float:
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / tracing.CLK_TCK)


def phase(name: str, t_start: float) -> None:
    print(json.dumps({"phase": name, "since_start_s": time.time() - t_start}),
          file=sys.stderr, flush=True)


def host_note(when: str) -> None:
    """Host steal and load, so a noisy run can be told apart afterwards."""
    note = {"host": when, "steal_s": tracing.host_steal_s(),
            "load1": os.getloadavg()[0], "time": time.time()}
    print(json.dumps(note), file=sys.stderr, flush=True)


# ------------------------------------------------------------ session ---
def start_spark(work: str, app: str, trace: bool):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # spark-submit's own JVM
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from web_crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app, cores=CORES, shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while tracing.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in tracing.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while tracing.descendants(os.getpid()):
        time.sleep(0.1)


# ------------------------------------------------------------- tracing ---
class Probes:
    """Everything a traced run installs, and its per-op read-out."""

    def __init__(self) -> None:
        self.tracer = tracing.Tracer()
        self.written: list[tuple[float, int]] = []  # (wall time, bytes)
        self.observations: list = []  # one Observation per seen_filter.prune call
        self._install()

    def _install(self) -> None:
        import importlib

        from web_crawler_spark.lake import SnapshotTable
        from web_crawler_spark.plans import crawl

        t = self.tracer
        for layer in ("sources.fetch", "operators.frontier", "operators.seen_filter",
                      "operators.extract", "operators.fuzzy", "operators.dedup",
                      "plans.enrich", "sources.warc", "images", "plans.corpus"):
            t.wrap_module(importlib.import_module(f"web_crawler_spark.{layer}"), layer)
        t.wrap(crawl, "fetch_pages", "sources.fetch")  # bound by from-import
        for name in ("append", "overwrite"):
            t.wrap(SnapshotTable, name, "lake.append")
            self._record_written(SnapshotTable, name)
        t.wrap(SnapshotTable, "read", "lake.read")
        t.wrap(SnapshotTable, "expire_snapshots", "lake.expire")
        tracing.install_action_wrappers(t)
        self._count_maybe_seen()

    def _record_written(self, cls, name: str) -> None:
        inner = getattr(cls, name)
        written = self.written

        def sized(tbl, *args, **kwargs):
            snap = inner(tbl, *args, **kwargs)
            n = 0
            for rel in snap.get("added_files", []):
                for dirpath, _, files in os.walk(os.path.join(tbl.data_dir, rel)):
                    n += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
            written.append((time.time(), n))
            return snap

        setattr(cls, name, sized)

    def _count_maybe_seen(self) -> None:
        """Count prune's output rows and its maybe_seen rows on the JVM,
        through an Observation on the (traced) call's output: no extra stage,
        and the plan keeps the stages it had."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from web_crawler_spark.operators import seen_filter

        prune = seen_filter.prune
        observations = self.observations

        def counted(*args, **kwargs):
            obs = Observation()
            observations.append(obs)
            return prune(*args, **kwargs).observe(
                obs, F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("maybe_seen").cast("long")).alias("maybe_seen"))

        seen_filter.prune = counted

    def maybe_seen_ratio(self) -> float:
        """maybe_seen rows / rows over the prune outputs observed since the
        last call; an output no action ran is skipped."""
        rows = hits = 0
        for obs in self.observations:
            # Observation.get blocks until an action fills it, so ask the
            # JVM-side object whether one has
            if obs._jo is not None and obs._jo.future().isCompleted():
                got = obs.get
                rows += got["rows"]
                hits += got["maybe_seen"] or 0
        self.observations.clear()
        return hits / rows if rows else 0.0

    def op_metrics(self, t0: float, t1: float) -> dict[str, float]:
        spans = self.tracer.window(t0, t1)
        out = {metric: spans.get(layer, (0, 0.0))[1] for layer, metric in SPAN_LAYERS.items()}
        out["driver.actions"] = float(spans.get("driver", (0, 0.0))[0])
        out["lake.append_calls"] = float(spans.get("lake.append", (0, 0.0))[0])
        written = sum(b for w, b in self.written if t0 <= w <= t1)
        out["lake.written_mb"] = written / (1024.0 * 1024.0)
        return out


def _mean(rows: list[dict], key: str) -> float:
    return sum(r.get(key, 0.0) for r in rows) / len(rows) if rows else 0.0


# ----------------------------------------------------------------- run ---
def run(name: str, seed: int, seconds: float, trace: bool, smoke: bool) -> tuple[dict, int]:
    t_start = process_start_epoch()
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host_note("start")
    spark = None
    try:
        spark = start_spark(work, f"perfbench-{name}", trace)
        tree = tracing.ProcTree(tracing.jvm_pid_of(os.getpid()))
        probes = Probes() if trace else None
        phase("jvm_up", t_start)
        wl = WORKLOADS[name](spark, work, seed, smoke)
        wl.setup()
        phase("inputs", t_start)
        wl.warmup()
        gc.collect()
        setup_s = time.time() - t_start
        phase("warmed_up", t_start)

        ops: list[dict] = []
        timed = 0.0
        failed = 0
        while not ops or (timed < seconds and len(ops) < wl.max_ops):
            gc.collect()
            if trace:
                probes.observations.clear()  # left over from warm-up or bookkeeping
            cpu0 = tree.cpu() if trace else None
            w0 = time.time()
            p0 = time.perf_counter()
            try:
                result = wl.op()
            except Exception:  # a failed op is counted and ends the run
                traceback.print_exc()
                failed += 1
                break
            dt = time.perf_counter() - p0
            w1 = time.time()
            rec = {"op_s": dt, "items": wl.items(result), "t0": w0, "t1": w1}
            if trace:
                cpu1 = tree.cpu()
                rec.update({k: cpu1[k] - cpu0[k] for k in cpu1})
                rec.update(probes.op_metrics(w0, w1))
                rec["operators.seen_filter.maybe_seen_ratio"] = probes.maybe_seen_ratio()
                rec.update(wl.layer_metrics(result))
            ops.append(rec)
            timed += dt
            print(json.dumps({"op": len(ops), "op_s": dt}), file=sys.stderr, flush=True)
        peak_rss = tree.peak_rss_mb()
        problems = ["an op raised"] if failed else wl.check()
        stop_spark(spark)
        spark = None
        if trace:
            with open(tracing.find_event_log(os.path.join(work, "eventlog"))) as fh:
                jobs, stages = tracing.parse_event_log(fh)
            for rec in ops:
                rec.update(tracing.spark_window(jobs, stages, rec["t0"], rec["t1"]))
    finally:
        if spark is not None:
            stop_spark(spark)
        host_note("end")
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"CHECK FAILED [{name}]: {p}", file=sys.stderr)
    op_p50 = statistics.median(r["op_s"] for r in ops) if ops else 0.0
    if trace:
        units = layer_units()
        values = {m: _mean(ops, m) for m in units if m != "trace.op_p50_s"}
        values["trace.op_p50_s"] = op_p50
    else:
        units = END_TO_END_UNITS
        values = {
            "setup_s": setup_s,
            "op_p50_s": op_p50,
            "items_per_s": sum(r["items"] for r in ops) / max(sum(r["op_s"] for r in ops), 1e-9),
            "peak_rss_mb": peak_rss,
        }
    correct = not problems and not failed
    result = {
        "correct": correct,
        "attempted": len(ops) + failed,
        "failed": failed + (len(ops) if problems else 0),
        "metrics": {m: {"value": values[m], "unit": units[m]} for m in sorted(units)},
    }
    print(f"{name}: seed {seed}, {len(ops)} timed op(s) of {WORKLOADS[name].item}, "
          f"local[{CORES}], trace {int(trace)}, correct {correct}")
    for m in sorted(units):
        print(f"  {m:<42} {values[m]:>14.6g} {units[m]}")
    return result, 0 if correct else 1
