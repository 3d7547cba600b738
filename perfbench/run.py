"""Layered benchmark for zmaxion_spark.

    python3 perfbench/run.py --workload iterative_jobs --seed 1 --seconds 15 --trace 0

Run from the repository root. One client runs one registry query at a
time (a closed loop) on ``local[<cores>]`` over fixture tables that
``fixtures.py`` generates once per checkout under ``.bench_build/``.
A run:

1. sets up: JVM, session, the workload's fixed warm-ups (``setup_s``);
2. runs every query once, collects it and checks it bit-exactly
   against its DuckDB oracle (``testing.run_query_pair``, strict); the
   Spark side of that pass, each query's build and ``toPandas``, is
   ``first_pass_s`` (the oracle and the comparison are left out);
3. reads the JVM heap after explicit GCs (``heap_live_mb``);
4. times a fixed number of whole passes, the ones that take
   ``--seconds`` at the workload's nominal pass time (the count does
   not follow the host's speed: the JIT keeps speeding queries up for
   several passes, so more passes would also mean faster ones). Each
   query's time is the median of its executions and ``pass_s`` is the
   sum of these medians; the check pass is the warm-up, and the median
   damps what is left of it.

Times are unstolen seconds (``unstolen_s``): wall time less the share
of it that the hypervisor gave to other guests, from the steal counter
in /proc/stat. On a shared host that share swings by tens of percent
within minutes and would swamp the program's own changes; the raw wall
time and the steal share are reported per layer (``host.*``). A CPU
probe is also timed at the start and the end of the run; a run whose
probe slowed by more than ``THROTTLE_DRIFT`` is flagged.

``--seed`` permutes the query order of each pass; the tables are the
same for every seed. A query that raises or mismatches its oracle is
counted in ``failed`` and charged ``--seconds`` for that execution, so
a failure can never make a pass look faster.

With ``--trace 1`` the timed phase is split: untraced passes, then
traced passes whose spans, Spark event log, planning phases and
streaming progress give the per-layer metrics (per pass), the layers'
self times, the share of pass time no span covers and the tracing
overhead (traced minus untraced ``pass_s``; the event log, the
listeners and the wrappers are active in the traced passes only; the
traced passes run later, so the overhead also holds the JIT's further
speed-up and can read below zero).
Spark jobs and planning phases are attributed to the Python span open
when they start, which is exact in a closed loop and also catches
micro-batch jobs that run outside the caller's job group. Spans are
written to ``.bench_build/perfbench/traces/``.

Self-test: ``python3 perfbench/selftest.py``.

Every run gets its own temp, Spark-local, warehouse and event-log
directories under ``.bench_build/perfbench/runs/``, removed at exit.
The last stdout line is the JSON result.
"""

from __future__ import annotations

import time


def stamp() -> tuple[float, int, int]:
    """(wall clock, busy ticks, steal ticks) now. The ticks are the
    host's CPU counters from /proc/stat; steal is time the hypervisor
    gave to other guests while one of this host's CPUs had work."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return time.perf_counter(), v[0] + v[1] + v[2] + v[5] + v[6], v[7]


START = stamp()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import types  # noqa: E402

import fixtures  # noqa: E402
import tracing as tr  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
SF = 0.01  # scale factor of the tables (lineitem = 6M × SF rows)
DATA_SEED = 42  # the tables; --seed only orders the queries
INJECTED = "perfbench_injected_failure"

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "heap_live_mb": "MB",
}
PER_LAYER = {
    # per-query time over the untraced executions; a run has too few
    # (6-10) for a p90 that is steady from run to run
    "queries.p50_s": "s", "queries.p90_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.action_s": "s",
    "queries.samples": "count",
    "catalyst.plan_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.tasks_per_stage": "ratio", "scheduler.task_delay_s": "s",
    "exec.task_run_s": "s", "exec.busy_frac": "ratio",
    "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
    "catalog.load_s": "s", "catalog.bytes_read": "B", "catalog.rows_read": "count",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "B",
    "functions.py_bytes_sent": "B", "functions.py_bytes_returned": "B",
    "functions.py_rows_returned": "count", "functions.py_stage_run_s": "s",
    "storage.retained_mb": "MB",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.rows_per_s": "1/s",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "txlog.calls": "count", "txlog.s": "s", "ecs.systems": "count", "ecs.system_s": "s",
    "disk.tmp_bytes": "B",
    "self.query_s": "s", "self.build_s": "s", "self.plan_s": "s", "self.action_s": "s",
    "self.catalog_s": "s", "self.txlog_s": "s", "self.ecs_s": "s", "self.pipeline_s": "s",
    "self.spark_job_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
    "trace.unattributed_frac": "ratio",
    "host.cpu_probe_ms": "ms", "host.cpu_probe_drift": "ratio",
    "host.steal_frac": "ratio", "host.pass_wall_s": "s",
}
HEAP_GC_ROUNDS = 10
THROTTLE_DRIFT = 1.25  # end/start CPU-probe ratio that flags a throttled host


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs
    p.add_argument("--scale", type=float, default=SF, help="scale factor of the tables")
    p.add_argument("--max-passes", type=int, help="stop timing after this many passes")
    p.add_argument("--inject-failure", action="store_true",
                   help="add a query that always raises")
    return p.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory, at most 4g: enough for these
    fixtures, and below what a small host has (the program's own
    default is 16g)."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(phys_gb // 4)))}g"


def unstolen_s(a: tuple[float, int, int], b: tuple[float, int, int]) -> float:
    """Wall seconds from stamp ``a`` to stamp ``b`` less the hypervisor's
    share of them: wall × busy / (busy + steal), the time the work takes
    on an unshared host. On a shared one, raw wall time follows the
    other guests' load, which swings by tens of percent within minutes."""
    busy, steal = b[1] - a[1], b[2] - a[2]
    wall = b[0] - a[0]
    return wall * busy / (busy + steal) if busy + steal else wall


def steal_frac(a: tuple[float, int, int], b: tuple[float, int, int]) -> float:
    busy, steal = b[1] - a[1], b[2] - a[2]
    return steal / (busy + steal) if busy + steal else 0.0


def cpu_probe_ms() -> float:
    """A fixed pure-Python workload; its time tracks host CPU speed."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1e3


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp and output location of this run into run_dir.
    Must run before the JVM starts."""
    d = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for p in d.values():
        os.makedirs(p)
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={d['tmp']} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={d['warehouse']}",
    ]
    os.environ.update(
        TMPDIR=d["tmp"],
        SPARK_LOCAL_DIRS=d["local"],
        SPARK_GRAFT_CPUS=str(host_cores()),
        ZMX_DRIVER_MEM=driver_mem(),
        # Python workers import zmaxion_spark whatever their cwd is
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    tempfile.tempdir = None
    return d


def redirect_tmp_literals(tmp: str) -> None:
    """The program keeps cross-run caches under hard-coded ``/tmp/zmx-*``
    paths. Rewrite those string constants in the loaded code to the
    run's temp dir, so each run starts cold and writes only there."""

    def retarget(code: types.CodeType) -> types.CodeType:
        consts = tuple(
            retarget(c) if isinstance(c, types.CodeType)
            else tmp + c[4:] if isinstance(c, str) and c.startswith("/tmp/")
            else c
            for c in code.co_consts
        )
        return code.replace(co_consts=consts)

    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("zmaxion_spark"):
            continue
        for obj in list(vars(mod).values()):
            members = vars(obj).values() if isinstance(obj, type) else (obj,)
            for fn in members:
                if isinstance(fn, types.FunctionType) and fn.__module__ == mod.__name__:
                    fn.__code__ = retarget(fn.__code__)


def stop_jvm() -> None:
    """End the gateway JVM and wait for it; closing its stdin is what
    makes it exit, and its Python workers exit with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


class _SparkSide:
    """Stands in for a query's function inside ``run_query_pair`` and
    times only the Spark side: the build and the ``toPandas`` collect."""

    def __init__(self, fn) -> None:
        self.fn, self.seconds = fn, 0.0

    def __call__(self, spark, sf_dir: str) -> "_SparkSide":
        a = stamp()
        try:
            self.df = self.fn(spark, sf_dir)
        finally:
            self.seconds += unstolen_s(a, stamp())
        return self

    def toPandas(self):  # noqa: N802 - DataFrame's name
        a = stamp()
        try:
            return self.df.toPandas()
        finally:
            self.seconds += unstolen_s(a, stamp())


@dataclasses.dataclass
class Timed:
    """The samples of a timed phase, per query: unstolen and raw wall
    seconds of each execution."""

    unstolen: dict[str, list[float]] = dataclasses.field(default_factory=dict)
    wall: dict[str, list[float]] = dataclasses.field(default_factory=dict)
    passes: int = 0
    windows: list[tuple[float, float]] = dataclasses.field(default_factory=list)  # of passes
    steal_frac: float = 0.0

    def pass_s(self, wall: bool = False) -> float:
        """One pass: the sum over queries of each query's median."""
        return sum(statistics.median(xs) for xs in (self.wall if wall else self.unstolen).values())

    def samples(self) -> list[float]:
        return [x for xs in self.unstolen.values() for x in xs]


class Run:
    def __init__(self, wl: Workload, args, data: str, dirs: dict[str, str]) -> None:
        self.wl, self.args, self.data, self.dirs = wl, args, data, dirs
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}
        self.tracer = tr.Tracer()
        self.plans = tr.PlanListener()
        self.progress = tr.ProgressListener()

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        from zmaxion_spark.queries import REGISTRY, Query
        from zmaxion_spark.session import get_spark

        redirect_tmp_literals(self.dirs["tmp"])
        self.queries = {n: REGISTRY[n] for n in self.wl.queries}
        if self.args.inject_failure:
            def boom(spark, sf_dir):
                raise RuntimeError("injected failure")
            self.queries[INJECTED] = Query(INJECTED, boom, None, ())
        self.spark = get_spark("perfbench", cpus=host_cores())
        self.warm_up()
        self.tracer.install()

    def warm_up(self) -> None:
        """The fixed warm-ups: the first Spark job of the JVM and, for
        workloads with Python kernels, the Python worker daemon."""
        self.spark.range(1000).selectExpr("sum(id)").collect()
        if self.wl.python_workers:
            self.spark.range(4).mapInArrow(lambda it: it, "id long").collect()

    # ------------------------------------------------------------ passes

    def order(self) -> list[str]:
        names = list(self.queries)
        self.rng.shuffle(names)
        return names

    def _fail(self, name: str, err: str, dt: float) -> float:
        self.failed += 1
        self.errors.setdefault(name, err[:300])
        return max(dt, self.args.seconds)

    def check_pass(self) -> float:
        """First pass: collect every query and compare it with its oracle.
        Returns its Spark-side time."""
        from zmaxion_spark import testing

        con = testing.duckdb_connect(self.data)
        total = 0.0
        for name in self.order():
            self.attempted += 1
            q = self.queries[name]
            side = _SparkSide(q.fn)
            try:
                res = testing.run_query_pair(self.spark, con, dataclasses.replace(q, fn=side),
                                             self.data, strict=True)
                err = None if res.ok else f"oracle mismatch: {res.detail}"
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                err = f"{type(e).__name__}: {e}"
            total += side.seconds if err is None else self._fail(name, err, side.seconds)
        return total

    def run_query(self, name: str, traced: bool) -> tuple[float, float]:
        """Runs one query to the noop sink; returns its (unstolen, wall)
        seconds."""
        q, spark, tracer = self.queries[name], self.spark, self.tracer
        self.attempted += 1
        a = stamp()
        try:
            if not traced:
                q.fn(spark, self.data).write.format("noop").mode("overwrite").save()
            else:
                tracer.qid = name
                with tracer.span(name, "query"):
                    with tracer.span("build", "build"):
                        df = q.fn(spark, self.data)
                    # planning happens inside the action; PlanListener times it
                    with tracer.span("action", "action"):
                        df.write.format("noop").mode("overwrite").save()
            err = None
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            err = f"{type(e).__name__}: {e}"
        b = stamp()
        dt = unstolen_s(a, b)
        return (dt if err is None else self._fail(name, err, dt)), b[0] - a[0]

    def n_passes(self, seconds: float) -> int:
        """The passes that take ``seconds`` at the workload's nominal
        speed. A fixed count, not a deadline: the JIT keeps speeding the
        queries up for several passes, so a run that timed more passes
        because its host was quiet would also read faster per pass."""
        n = max(1, round(seconds / self.wl.nominal_pass_s))
        return min(n, self.args.max_passes or n)

    def timed_passes(self, seconds: float, traced: bool = False) -> Timed:
        """``n_passes(seconds)`` whole passes, each in its own seed order."""
        t = Timed()
        a = stamp()
        for _ in range(self.n_passes(seconds)):
            w0 = time.time()
            for name in self.order():
                s, w = self.run_query(name, traced)
                t.unstolen.setdefault(name, []).append(s)
                t.wall.setdefault(name, []).append(w)
            t.passes += 1
            t.windows.append((w0, time.time()))
            if traced:
                self.retained_mb.append(self.storage_mb())
        t.steal_frac = steal_frac(a, stamp())
        return t

    # ------------------------------------------------------------ JVM figures

    def _jvm(self):
        return self.spark.sparkContext._jvm

    def heap_live_mb(self) -> float:
        """JVM heap in use after full GCs, repeated until it settles.
        Python first drops its dead DataFrames, whose py4j handles pin
        JVM objects. Between GCs, Spark's ContextCleaner drops the blocks
        of RDDs the last GC found unreachable, so the next GC can reclaim
        them; it takes up to four rounds."""
        gc.collect()
        jvm = self._jvm()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used: list[float] = []
        for _ in range(HEAP_GC_ROUNDS):
            jvm.java.lang.System.gc()
            used.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
            # settled: three readings in a row within 0.5 MB
            if len(used) >= 3 and max(used[-3:]) - min(used[-3:]) < 0.5:
                break
            time.sleep(0.3)
        return min(used)

    def gc_s(self) -> float:
        beans = self._jvm().java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def peak_rss_mb(self) -> float:
        pid = self._jvm().java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    # ------------------------------------------------------------ the run

    def execute(self, before_setup_s: float) -> dict[str, float]:
        """``before_setup_s``: the unstolen seconds of set-up already spent."""
        m: dict[str, float] = {}
        probe0 = cpu_probe_ms()
        a = stamp()
        self.setup()
        m["setup_s"] = before_setup_s + unstolen_s(a, stamp())
        self.phases = {"setup": time.perf_counter() - START[0]}
        m["first_pass_s"] = self.check_pass()
        self.lap("check")
        # after a fixed amount of work, the same in every run
        m["heap_live_mb"] = self.heap_live_mb()
        self.lap("heap")
        if not self.args.trace:
            self.timed = self.timed_passes(self.args.seconds)
        else:
            self.timed = self.timed_passes(self.args.seconds / 2)
            m.update(self.traced_phase(self.args.seconds / 2, self.timed.pass_s()))
        self.lap("timed")
        probe1 = cpu_probe_ms()
        m["pass_s"] = self.timed.pass_s()
        samples = self.timed.samples()
        m["queries.p50_s"] = statistics.median(samples)
        m["queries.p90_s"] = percentile(samples, 90)
        m["host.pass_wall_s"] = self.timed.pass_s(wall=True)
        m["host.steal_frac"] = self.timed.steal_frac
        if self.args.trace:
            m["jvm.peak_rss_mb"] = self.peak_rss_mb()
        self.spark.stop()
        stop_jvm()
        self.lap("stop")
        m["host.cpu_probe_ms"], m["host.cpu_probe_drift"] = probe0, probe1 / probe0
        if self.args.trace:
            m.update(self.event_log_metrics())
        return m

    def lap(self, phase: str) -> None:
        """Wall seconds of each phase of the run, for the log."""
        self.phases[phase] = time.perf_counter() - START[0] - sum(self.phases.values())

    def disk_bytes(self) -> int:
        return _dir_bytes(self.dirs["tmp"]) + _dir_bytes(self.dirs["local"])

    def traced_phase(self, seconds: float, untraced_pass_s: float) -> dict[str, float]:
        self.retained_mb = []
        event_log = tr.EventLogWriter(self.spark, self.dirs["eventlog"])
        event_log.start()
        self.plans.attach(self.spark)
        self.progress.attach(self.spark)
        gc0, disk0 = self.gc_s(), self.disk_bytes()
        self.tracer.enabled = True
        t = self.timed_passes(seconds, traced=True)
        self.tracer.enabled = False
        gc1, disk1 = self.gc_s(), self.disk_bytes()
        tr.drain(self.spark)
        self.progress.detach(self.spark)
        self.plans.detach()
        event_log.stop()
        n, self.windows = t.passes, t.windows
        self.traced_pass_total = sum(sum(xs) for xs in t.wall.values())
        return {
            "queries.samples": len(t.samples()),
            "jvm.gc_s": (gc1 - gc0) / n,
            "storage.retained_mb": self.retained_mb[-1],
            # what the traced passes left on disk, per pass
            "disk.tmp_bytes": (disk1 - disk0) / n,
            "trace.pass_s": t.pass_s(),
            "trace.untraced_pass_s": untraced_pass_s,
            "trace.overhead_s": t.pass_s() - untraced_pass_s,
        }

    def event_log_metrics(self) -> dict[str, float]:
        """Per-layer figures of the traced passes, per pass."""
        n = len(self.windows)
        inside = lambda t: any(a <= t <= b for a, b in self.windows)  # noqa: E731
        log = tr.read_event_log(self.dirs["eventlog"])
        spans = [s for s in self.tracer.spans if s.end]

        def adopt(name: str, layer: str, start: float, end: float, at: float) -> tr.Span:
            """A child span of the innermost span open at ``at`` (one
            query runs at a time)."""
            owner = max((s for s in spans if s.start <= at <= s.end),
                        key=lambda s: s.start, default=None)
            s = tr.Span(len(self.tracer.spans), name, layer, start, end,
                        owner.id if owner else None, owner.qid if owner else None)
            self.tracer.spans.append(s)
            return s

        # planning phases are timed in whole ms, so place them by midpoint
        spans += [adopt(phase, "plan", a, b, (a + b) / 2)
                  for phase, a, b in self.plans.phases if inside(a)]
        by_id = {s.id: s for s in spans}
        jobs = [j for j in log.jobs if inside(j["submit"]) and j["end"]]
        build_jobs = 0
        for j in jobs:
            js = adopt(f"job {j['id']}", "spark_job", j["submit"], j["end"], j["submit"])
            p = by_id.get(js.parent)
            while p is not None and p.layer != "build":
                p = by_id.get(p.parent)
            build_jobs += p is not None
        tasks = [t for t in log.tasks if inside(t["launch"])]
        stages = [s for s in log.stages if inside(s["submit"])]
        py = {"sent": 0, "returned": 0, "rows": 0}
        py_run = 0.0
        for t in tasks:
            hit = False
            for acc, upd in t["accums"].items():
                kind = log.py_ids.get(acc)
                if kind is not None:
                    hit = True
                    py[kind] += int(upd or 0)
            py_run += t["run_s"] if hit else 0.0
        selft = tr.self_times(self.tracer.spans)

        def outermost(layer: str) -> list[tr.Span]:
            # a call nested in another call of its layer counts once
            return [s for s in spans if s.layer == layer
                    and (s.parent is None or by_id[s.parent].layer != layer)]

        def layer_s(layer: str) -> float:
            return sum(s.end - s.start for s in outermost(layer))

        # batch start times place each micro-batch inside its query
        ev = [e for e in self.progress.events if inside(e["t"])]
        stream_wall = sum(
            s.end - s.start for s in spans if s.layer == "query"
            and any(s.start <= e["t"] <= s.end for e in ev))
        input_rows = sum(e["input_rows"] for e in ev)
        phase = lambda k: sum(e["duration_ms"].get(k, 0) for e in ev) / n  # noqa: E731
        run_s = sum(t["run_s"] for t in tasks)
        query_wall = sum(s.end - s.start for s in spans if s.layer == "query")
        m = {
            "queries.build_s": layer_s("build") / n,
            "queries.build_jobs": build_jobs / n,
            "queries.action_s": layer_s("action") / n,
            "catalyst.plan_s": layer_s("plan") / n,
            "scheduler.jobs": len(jobs) / n,
            "scheduler.stages": len(stages) / n,
            "scheduler.tasks": len(tasks) / n,
            "scheduler.tasks_per_stage": len(tasks) / max(1, len(stages)),
            "scheduler.task_delay_s": sum(t["finish"] - t["launch"] - t["run_s"]
                                          for t in tasks) / n,
            "exec.task_run_s": run_s / n,
            "exec.busy_frac": run_s / (self.traced_pass_total * host_cores()),
            "catalog.load_s": layer_s("catalog") / n,
            "catalog.bytes_read": sum(t["bytes_read"] for t in tasks) / n,
            "catalog.rows_read": sum(t["rows_read"] for t in tasks) / n,
            "shuffle.write_bytes": sum(t["shuffle_write"] for t in tasks) / n,
            "shuffle.read_bytes": sum(t["shuffle_read"] for t in tasks) / n,
            "shuffle.fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks) / n,
            "shuffle.spill_bytes": sum(t["spill"] for t in tasks) / n,
            "functions.py_bytes_sent": py["sent"] / n,
            "functions.py_bytes_returned": py["returned"] / n,
            "functions.py_rows_returned": py["rows"] / n,
            "functions.py_stage_run_s": py_run / n,
            "streaming.batches": len(ev) / n,
            "streaming.input_rows": input_rows / n,
            "streaming.rows_per_s": input_rows / stream_wall if stream_wall else 0.0,
            "streaming.add_batch_ms": phase("addBatch"),
            "streaming.query_planning_ms": phase("queryPlanning"),
            "streaming.wal_commit_ms": phase("walCommit"),
            "streaming.commit_offsets_ms": phase("commitOffsets"),
            "streaming.state_commit_ms": sum(e["state_commit_ms"] for e in ev) / n,
            # state size: the largest any batch left, not a per-pass sum
            "streaming.state_rows": max((e["state_rows"] for e in ev), default=0),
            "streaming.state_bytes": max((e["state_bytes"] for e in ev), default=0),
            "txlog.calls": len(outermost("txlog")) / n,
            "txlog.s": layer_s("txlog") / n,
            "ecs.systems": sum(s.n for s in outermost("ecs")) / n,
            "ecs.system_s": layer_s("ecs") / n,
            "trace.unattributed_frac": 1 - query_wall / self.traced_pass_total,
        }
        for layer in ("query", "build", "plan", "action", "catalog", "txlog", "ecs",
                      "pipeline", "spark_job"):
            m[f"self.{layer}_s"] = selft.get(layer, 0.0) / n
        self.tracer.dump(os.path.join(
            CACHE, "traces", f"{self.wl.name}-seed{self.args.seed}.json"))
        return m


def percentile(xs: list[float], p: int) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "zmaxion_spark")):
        print(f"perfbench: no zmaxion_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    before_data = unstolen_s(START, stamp())
    data = fixtures.ensure(os.path.join(CACHE, "data"), args.scale, DATA_SEED)
    after_data = stamp()
    os.makedirs(os.path.join(CACHE, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=os.path.join(CACHE, "runs"))
    try:
        dirs = isolate(run_dir)
        run = Run(wl, args, data, dirs)
        # set-up is timed from process start, leaving out the fixture build
        m = run.execute(before_data + unstolen_s(after_data, stamp()))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    names = PER_LAYER if args.trace else END_TO_END
    error_rate = run.failed / run.attempted
    timed = run.timed
    print(f"# workload={wl.name} seed={args.seed} trace={args.trace} "
          f"passes={timed.passes} timed_samples={len(timed.samples())} "
          f"steal={timed.steal_frac:.3f} "
          f"error_rate={error_rate:.4f} ({run.failed}/{run.attempted})")
    if m["host.cpu_probe_drift"] > THROTTLE_DRIFT:
        print(f"# WARNING host CPU probe slowed {m['host.cpu_probe_drift']:.2f}x "
              "during the run (throttled host?)")
    print("# phases (wall s): " + " ".join(f"{k} {v:.1f}" for k, v in run.phases.items()))
    for name, err in run.errors.items():
        print(f"# FAILED {name}: {err}")
    for name, xs in sorted(timed.unstolen.items()):
        print(f"# query {name}: median {statistics.median(xs):.3f} s over {len(xs)}: "
              + " ".join(f"{x:.3f}" for x in xs))
    for k in (*END_TO_END, *(PER_LAYER if args.trace else ())):
        if k in m:
            print(f"# {k} = {m[k]:.6g} {END_TO_END.get(k) or PER_LAYER[k]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
