#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--size full|tiny]

Run from the root of a checkout.  One process, one client, closed loop
(the next query is issued when the previous one completes), on
``local[nproc]``.  Workloads, metrics and bounds are described in
``BENCHMARK.json``.

Order of a run:

1. pin the session from outside (env vars only, recorded in the result);
2. generate the seeded inputs, or reuse them from the cache (timed on its
   own line, not part of ``setup_s``);
3. a cold set-up (JVM launch, registry load, warm-up job), reported on
   its own, then ``N_SETUPS`` warm ones (session rebuild, fresh registry
   load, warm-up job) whose median is ``setup_s``;
4. one pass over the workload that also checks every output, then
   ``WARM_PASSES`` untimed passes;
5. the timed region: passes in seed-permuted order for ``--seconds``, at
   least ``MIN_TIMED_PASSES`` of them, each also metered in CPU seconds;
   with ``--trace 1`` every item runs twice in a row there, untraced and
   traced (spans, forced planning, status-store reads), followed by the
   bare dedup operators.

Stdout ends with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or the per-layer ones when traced).
Exit code 2, without a result, if the package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import StatusStore, Tracer, plan_digest  # noqa: E402

PACKAGE = "mapreduce_implementation_spark"
STATE = os.path.join(ROOT, ".perfbench")
N_SETUPS = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")
WARM_PASSES = 3
# the timed region runs at least this many passes, so pass_cpu_s is never
# read off a single pass when the box is slow
MIN_TIMED_PASSES = 2

# The end-to-end metrics in BENCHMARK.json: defined, non-zero and steady
# on every listed workload.  The report prints the others too.
GATED = ("setup_s", "pass_cpu_s")
UNITS = {
    "setup_s": "s", "pass_cpu_s": "s", "wall_s": "s", "query_p50_s": "s",
    "query_p90_s": "s",
    "peak_rss_mb": "MB", "failed_frac": "ratio", "wordcount_s": "s",
    "sort_s": "s", "input_mb_per_s": "MB/s",
}


class Ctx:
    def __init__(self, args) -> None:
        self.root = ROOT
        self.seed = args.seed
        self.size = args.size
        self.cache_dir = os.path.join(STATE, "cache")
        self.work_dir = os.path.join(STATE, "work", f"{os.getpid()}")


def pin_env(ctx: Ctx) -> dict:
    """Session settings, from the env vars the package and Spark read."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 ** 20
    tmp = os.path.join(ctx.work_dir, "tmp")
    mem_mb = min(2048, phys_mb // 4)
    for d in ("tmp", "spark-local", "warehouse", "derived", "out"):
        os.makedirs(os.path.join(ctx.work_dir, d), exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(ctx.work_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(ctx.work_dir, "warehouse"),
        "SPARK_GRAFT_DERIVED": os.path.join(ctx.work_dir, "derived"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed driver heap (-Xms = the -Xmx the driver memory sets), so
        # G1 does not size it differently from run to run
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{mem_mb}m pyspark-shell",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(pinned)
    return pinned


def descendants() -> list[int]:
    """Pids of every process below this one (the JVM, its Python workers)."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the Spark JVM and
    the Python workers it forks), sampled from /proc every 500 ms: the
    sampling is part of the CPU time ``pass_cpu_s`` counts."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def _sample(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page_kb
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            self.peak_kb = max(self.peak_kb, self._sample())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times (jiffies) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it
    (the Spark JVM, the Python workers), children they reaped included.
    The kernel leaves out time stolen by the hypervisor."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def jit_cpu_s() -> dict[int, float]:
    """CPU seconds used so far by each JIT compiler thread of the JVM below
    this process, by thread id."""
    out = {}
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():  # C1/C2 CompilerThreadN
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[int(tid)] = (int(f[11]) + int(f[12])) / CLK_TCK
    return out


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between t0 and t1."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d[:8]))


def setup_once(app: str, cold: bool) -> tuple[object, dict, dict]:
    """Build the session, load the registry, run one warm-up job.  The
    cold set-up launches the JVM.  A warm one stops the session and drops
    the package's modules first, so the session is built and the registry
    loaded again from scratch, in the running JVM."""
    from pyspark.sql import functions as F

    if not cold:
        from mapreduce_implementation_spark.session import stop_spark
        stop_spark()
        for m in [m for m in sys.modules
                  if m == PACKAGE or m.startswith(PACKAGE + ".")]:
            del sys.modules[m]
    t0 = time.perf_counter()
    from mapreduce_implementation_spark.session import get_spark
    spark = get_spark(app)
    t1 = time.perf_counter()
    from mapreduce_implementation_spark.registry import all_specs
    specs = all_specs()
    t2 = time.perf_counter()
    from mapreduce_implementation_spark.operators.text import word_count
    lines = spark.range(0, 20_000).select(
        F.concat(F.lit("Warm-up x9 "), (F.col("id") % 997).cast("string"),
                 F.lit(" line")).alias("value"))
    word_count(lines).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, specs, {"session_s": t1 - t0, "registry_s": t2 - t1,
                          "warmup_s": t3 - t2, "total_s": t3 - t0}


def per_item_median(execs: list[dict], key) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for e in execs:
        by.setdefault(e["item"], []).append(key(e))
    return {k: statistics.median(v) for k, v in by.items()}


class Runner:
    """Executes workload items and records one dict per execution."""

    def __init__(self, spark, tracer, store) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.store = store
        self.n = 0
        self.errors: list[str] = []
        # CPU seconds of each pass of a loop, without and of the JIT compiler
        self.pass_cpu: list[float] = []
        self.pass_jit: list[float] = []

    def _group(self, item, phase: str) -> str:
        return f"pb{self.n}-{item.name}-{phase}"

    def execute(self, item, sink=None, traced=False) -> dict:
        """One execution: build, (traced: force the plan), run the sink,
        release tracked persists.  Latency = build + execute."""
        from mapreduce_implementation_spark.operators.caching import (
            persisted_count, release_persisted)

        self.n += 1
        sink = sink or item.sink
        rec = {"item": item.name, "n": self.n, "ok": True}
        tr = self.tracer if traced else None
        span = tr.span if tr else (lambda *a, **k: nullcontext())
        with span("query", trace=f"x{self.n}", item=item.name) as qs:
            try:
                self.sc.setJobGroup(self._group(item, "build"), item.name)
                with span("queries.build"):
                    t0 = time.perf_counter()
                    df = item.build()
                    t1 = time.perf_counter()
                if tr:
                    self.sc.setJobGroup(self._group(item, "plan"), item.name)
                    with span("plans.plan"):
                        p0 = time.perf_counter()
                        rec["plan"] = plan_digest(df)
                        rec["plan"]["planning_s"] = time.perf_counter() - p0
                self.sc.setJobGroup(self._group(item, "exec"), item.name)
                with span("exec"):
                    t2 = time.perf_counter()
                    result = sink(df)
                    t3 = time.perf_counter()
                rec.update(build_s=t1 - t0, exec_s=t3 - t2,
                           latency_s=(t1 - t0) + (t3 - t2), result=result)
            except Exception as e:  # a failed execution is counted, not fatal
                rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
                self.errors.append(f"{item.name}: {rec['error']}")
                print(f"perfbench: {item.name} failed: {e!r}", file=sys.stderr)
            finally:
                self.sc.setJobGroup(f"pb{self.n}-idle", "idle")
                with span("caching.release"):
                    r0 = time.perf_counter()
                    rec["persists"] = persisted_count()
                    release_persisted()
                    rec["release_s"] = time.perf_counter() - r0
        # count this execution's jobs once the listener bus has caught up
        self.store.drain()
        rec["jobs"] = {ph: len(self.store.job_ids(self._group(item, ph)))
                       for ph in ("build", "plan", "exec")}
        if tr:
            for phase in ("build", "plan", "exec"):
                rec[f"{phase}_counters"] = self.store.group(
                    self._group(item, phase))
            for s in tr.spans[qs["id"]:]:
                if s["name"] == "exec" and s["parent"] == qs["id"]:
                    s["attrs"]["counters"] = {
                        k: v for k, v in rec["exec_counters"].items()
                        if k != "per_stage"}
        rec["traced"] = bool(tr)
        return rec

    def idle_jobs(self) -> int:
        """Jobs run between executions, while tracked persists were
        released and the status store read; must be 0."""
        self.store.drain()
        return sum(len(self.store.job_ids(f"pb{n}-idle"))
                   for n in range(1, self.n + 1))

    def loop(self, items, seconds: float, rng: random.Random,
             interleave=False, min_passes=1) -> list[dict]:
        """Closed loop over whole passes in seed-permuted order, so every
        item runs equally often.  The loop ends at the pass boundary
        nearest to ``seconds``, after at least ``min_passes`` passes.
        ``interleave`` runs every item twice in a row, untraced and
        traced, alternating which goes first, so the tracing overhead is
        measured on the same box state.  ``pass_cpu`` gets the CPU
        seconds of each of its passes, less the JIT compiler's, which
        ``pass_jit`` gets."""
        execs: list[dict] = []
        t_start = time.perf_counter()
        passes = 0
        self.pass_cpu, self.pass_jit = [], []
        while True:
            cpu0, jit0 = tree_cpu_s(), jit_cpu_s()
            order = list(items)
            rng.shuffle(order)
            modes = [False, True] if passes % 2 == 0 else [True, False]
            for item in order:
                for traced in (modes if interleave else [False]):
                    execs.append(self.execute(item, traced=traced))
            passes += 1
            cpu1, jit1 = tree_cpu_s(), jit_cpu_s()
            # a compiler thread that has ended is taken as idle since jit0
            jit = sum(v - jit0.get(tid, 0.0) for tid, v in jit1.items())
            self.pass_cpu.append(cpu1 - cpu0 - jit)
            self.pass_jit.append(jit)
            elapsed = time.perf_counter() - t_start
            if passes >= min_passes and elapsed + elapsed / passes / 2 >= seconds:
                return execs


def end_to_end(wl, execs: list[dict], pass_cpu: list[float], setup_s: float,
               rss_mb: float, n_attempted: int, n_failed: int) -> dict:
    ok = [e for e in execs if e["ok"]]
    med = per_item_median(ok, lambda e: e["latency_s"])
    latencies = [e["latency_s"] for e in ok]
    m = {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(pass_cpu),
        "wall_s": sum(med.values()),
        "query_p50_s": statistics.median(latencies),
        "query_p90_s": statistics.quantiles(
            latencies, n=10, method="inclusive")[8],
        "peak_rss_mb": rss_mb,
        "failed_frac": n_failed / max(1, n_attempted),
    }
    if wl.name == "mapreduce_jobs":
        m["wordcount_s"] = med["job_a_wordcount"]
        m["sort_s"] = med["job_b_sort"]
        m["input_mb_per_s"] = wl.input_bytes() / 1e6 / m["wall_s"]
    return m


def job_counts_differ(plain: list[dict], traced: list[dict]) -> dict:
    """Items whose build + exec jobs per execution differ between the
    traced and the untraced executions: ``{item: (traced, untraced)}``.
    Reported, not asserted: on curation_mix, text_tfidf_top3 has run one
    job fewer in an occasional traced execution (14 against 15) with no
    job in the plan or idle groups, and 24 executions with and without
    forced planning alone all ran 15, so the cause is not known."""
    def per_item(recs):
        out: dict[str, list[int]] = {}
        for e in recs:
            if e["ok"]:
                out.setdefault(e["item"], []).append(
                    e["jobs"]["build"] + e["jobs"]["exec"])
        return {k: sorted(v) for k, v in out.items()}
    untraced_jobs, traced_jobs = per_item(plain), per_item(traced)
    return {k: (v, untraced_jobs.get(k)) for k, v in sorted(traced_jobs.items())
            if v != untraced_jobs.get(k)}


def per_layer(execs: list[dict], op_execs: list[dict], cold: dict,
              setups: list[dict], cores: int, untraced_wall: float,
              traced_wall: float) -> dict:
    ok = [e for e in execs if e["ok"]]

    def pass_sum(key) -> float:
        return sum(per_item_median(ok, key).values())

    def cnt(phase, field, stage_filter=None):
        def key(e):
            c = e[f"{phase}_counters"]
            if stage_filter is None:
                return c[field]
            return sum(s[field] for s in c["per_stage"] if stage_filter(s))
        return key

    latency = pass_sum(lambda e: e["latency_s"])
    build = pass_sum(lambda e: e["build_s"])
    run_s = pass_sum(cnt("exec", "run_ms")) / 1e3
    cpu_s = pass_sum(cnt("exec", "cpu_ns")) / 1e9
    tasks = pass_sum(cnt("exec", "tasks"))
    word_items = {"job_a_wordcount", "word_count"}

    def tokenize_cpu(e):
        if e["item"] not in word_items:
            return 0.0
        return sum(s["cpu_ns"] for s in e["exec_counters"]["per_stage"]
                   if s["input_b"] > 0) / 1e9

    op = per_item_median([e for e in op_execs if e["ok"]], lambda e: e["latency_s"])
    qmed = per_item_median(ok, lambda e: e["latency_s"])
    return {
        "session.launch_s": cold["session_s"],
        "session.start_s": statistics.median(s["session_s"] for s in setups),
        "registry.load_s": statistics.median(s["registry_s"] for s in setups),
        "queries.build_s": build,
        "queries.build_jobs": pass_sum(cnt("build", "jobs")),
        "queries.build_share": build / latency,
        "plans.planning_s": pass_sum(lambda e: e["plan"]["planning_s"]),
        "plans.exchanges": pass_sum(lambda e: e["plan"]["exchanges"]),
        "plans.python_eval_nodes": pass_sum(lambda e: e["plan"]["python_eval_nodes"]),
        "plans.jobs": pass_sum(lambda e: e["jobs"]["plan"]),
        "exec.jobs": pass_sum(cnt("exec", "jobs")),
        "exec.stages": pass_sum(cnt("exec", "stages")),
        "exec.tasks": tasks,
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.gc_s": pass_sum(cnt("exec", "gc_ms")) / 1e3,
        "exec.off_cpu_s": run_s - cpu_s,
        "exec.core_util": run_s / (latency * cores),
        "exec.failed_task_frac": pass_sum(cnt("exec", "failed_tasks")) / max(1.0, tasks),
        "functions.tokenize_cpu_s": pass_sum(tokenize_cpu),
        "sources.scan_mb": pass_sum(cnt("exec", "input_b")) / 1e6,
        "sources.output_mb": pass_sum(cnt("exec", "output_b")) / 1e6,
        "sources.write_stage_s": pass_sum(
            cnt("exec", "run_ms", lambda s: s["output_b"] > 0)) / 1e3,
        "shuffle.write_mb": pass_sum(cnt("exec", "shuffle_write_b")) / 1e6,
        "shuffle.read_mb": pass_sum(cnt("exec", "shuffle_read_b")) / 1e6,
        "shuffle.fetch_wait_s": pass_sum(cnt("exec", "fetch_wait_ms")) / 1e3,
        "shuffle.spill_mb": pass_sum(cnt("exec", "spill_disk_b")) / 1e6,
        "caching.persists": pass_sum(lambda e: e["persists"]),
        "caching.release_s": pass_sum(lambda e: e["release_s"]),
        "dedup.operator_s": sum(op.values()),
        "dedup.audit_s": sum(qmed[k] - v for k, v in op.items() if k in qmed),
        "trace.overhead_s": traced_wall - untraced_wall,
    }


LAYER_UNITS = {
    "_s": "s", "_mb": "MB", "_share": "ratio", "_util": "ratio",
    "_frac": "ratio",
}


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    ctx = Ctx(args)
    pinned = pin_env(ctx)
    # the JVM and libraries may write to fd 1; keep stdout for the report
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        return _run(args, ctx, pinned, real_stdout)
    finally:
        _shutdown()
        shutil.rmtree(ctx.work_dir, ignore_errors=True)


def _run(args, ctx: Ctx, pinned: dict, out) -> int:
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](ctx)
    gen_s = time.perf_counter() - t0

    app = f"perfbench-{wl.name}"
    spark, specs, cold = setup_once(app, cold=True)
    setups = []
    for _ in range(N_SETUPS):
        spark, specs, s = setup_once(app, cold=False)
        setups.append(s)
    setup_s = statistics.median(s["total_s"] for s in setups)
    cores = spark.sparkContext.defaultParallelism
    phases = {"setups": time.perf_counter() - t0 - gen_s}

    t1 = time.perf_counter()
    items = wl.items(spark, specs)
    tracer = Tracer() if args.trace else None
    runner = Runner(spark, tracer, StatusStore(spark))
    attempted = failed = 0
    problems: list[str] = []

    # a first pass that checks every output (outside the timed region);
    # it is also each item's first, cold execution
    for item in items:
        attempted += 1
        rec = runner.execute(item, sink=item.check)
        if not rec["ok"] or rec["result"]:
            failed += 1
        if rec.get("result"):
            problems.append(f"{item.name}: {rec['result']}")

    phases["check"] = time.perf_counter() - t1

    # untimed warm-up passes: JIT compilation keeps speeding each item up
    # for several executions after its first
    t1 = time.perf_counter()
    warm_rng = random.Random(-args.seed)
    warm = runner.loop(items, 0, warm_rng, min_passes=WARM_PASSES)
    attempted += len(warm)
    failed += sum(1 for e in warm if not e["ok"])

    phases["warm-up"] = time.perf_counter() - t1

    t1 = time.perf_counter()
    rss = RssSampler()
    rss.start()
    cpu0 = cpu_times()
    if tracer:
        with tracer.span("run", trace="run", workload=wl.name, seed=args.seed):
            execs = runner.loop(items, args.seconds, random.Random(args.seed),
                                interleave=True, min_passes=MIN_TIMED_PASSES)
            op_execs = []
            for _ in range(2):
                for item in wl.operator_items(spark):
                    with tracer.span("dedup.operator", item=item.name):
                        op_execs.append(runner.execute(item))
    else:
        execs = runner.loop(items, args.seconds, random.Random(args.seed),
                            min_passes=MIN_TIMED_PASSES)
        op_execs = []
    rss_mb = rss.stop()
    phases["timed"] = time.perf_counter() - t1
    steal = steal_share(cpu0, cpu_times())
    plain = [e for e in execs if not e["traced"]]
    traced = [e for e in execs if e["traced"]]
    attempted += len(execs) + len(op_execs)
    failed += sum(1 for e in execs + op_execs if not e["ok"])
    problems += runner.errors
    e2e = end_to_end(wl, plain, runner.pass_cpu, setup_s, rss_mb, attempted,
                     failed)

    layers = None
    if tracer:
        traced_wall = end_to_end(wl, traced, runner.pass_cpu, setup_s, rss_mb,
                                 1, 0)["wall_s"]
        layers = per_layer(traced, op_execs, cold, setups, cores,
                           e2e["wall_s"], traced_wall)
        # forced planning runs under the plan group and status-store reads
        # under the idle group: tracing adds no job if both ran none
        idle_jobs = runner.idle_jobs()
        tracing_ok = layers["plans.jobs"] == 0 and idle_jobs == 0
        tracing_detail = (f"jobs run by forced planning {layers['plans.jobs']:g}, "
                          f"between executions {idle_jobs}")
        if not tracing_ok:
            problems.append(f"tracing check: {tracing_detail}")
        differ = job_counts_differ(plain, traced)
        self_times = tracer.self_times()
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        trace_path = os.path.join(STATE, "traces", f"{wl.name}-s{args.seed}.json")
        tracer.dump(trace_path, {"workload": wl.name, "seed": args.seed,
                                 "size": args.size, "env": pinned})

    # ---- report
    def say(line: str = "") -> None:
        print(line, file=out)

    say(f"workload {wl.name} seed {args.seed} size {args.size} "
        f"seconds {args.seconds:g} trace {args.trace}")
    source = ("fixture tables, nothing generated" if wl.input_kind == "tables"
              else f"cache {'hit' if wl.cache_hit else 'miss'}")
    say(f"generation_s {gen_s:.4f} s ({source}; not part of setup_s)")
    say(f"inputs {json.dumps(wl.props, sort_keys=True)}")
    say("env " + " ".join(f"{k}={v}" for k, v in sorted(pinned.items())))
    say(f"cold setup_s {cold['total_s']:.4f} s (JVM launch {cold['session_s']:.4f} s; "
        "not part of setup_s)")
    say(f"warm setups_s {[round(s['total_s'], 4) for s in setups]} (setup_s is their median)")
    say("phases_s " + " ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    say(f"cpu steal during the timed region: {steal:.1%} of machine CPU time")
    say(f"timed executions {len(plain)} untraced, {len(traced)} traced; "
        f"attempted {attempted}, failed {failed}")
    for k, v in e2e.items():
        say(f"  {k:<16} {v:.6g} {UNITS[k]}")
    say(f"  (query_p50_s and query_p90_s: over all {len(plain)} timed "
        f"executions of {len(items)} items)")
    say(f"  (pass_cpu_s: median of the {len(runner.pass_cpu)} timed passes "
        f"{[round(x, 2) for x in runner.pass_cpu]}, JIT compiler CPU not "
        f"counted: {[round(x, 2) for x in runner.pass_jit]}"
        f"{'; a traced pass runs every item twice' if tracer else ''})")
    say(f"output check: {'PASS' if failed == 0 else 'FAIL'}")
    for p in problems[:20]:
        say(f"  problem: {p}")
    if layers is not None:
        say("per-layer (traced; per pass = sum over the pass of per-item medians):")
        for k, v in layers.items():
            say(f"  {k:<26} {v:.6g} {layer_unit(k)}")
        say("self time by span (traced region, total; the run span's own "
            "time holds the interleaved untraced executions):")
        for k, v in sorted(self_times.items(), key=lambda kv: -kv[1]):
            say(f"  {k:<26} {v:.4f} s")
        say(f"tracing overhead: traced wall_s {traced_wall:.4f} s - untraced "
            f"{e2e['wall_s']:.4f} s = {traced_wall - e2e['wall_s']:.4f} s")
        say(f"tracing check: {'PASS' if tracing_ok else 'FAIL'} ({tracing_detail})")
        say("build+exec jobs per execution, traced vs untraced: " + (
            f"differ on {differ}" if differ else "equal on every item"))
        if not op_execs:
            say("not measured on this workload: dedup.operator_s, dedup.audit_s "
                "(no approximate dedup query in it)")
        say(f"spans: {trace_path}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in GATED}

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results",
                           f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"end_to_end": e2e, "per_layer": layers, "env": pinned,
                   "inputs": wl.props, "cold_setup": cold, "setups": setups,
                   "phases": phases,
                   "problems": problems,
                   "execs": [{k: v for k, v in e.items() if not k.endswith("counters")}
                             for e in execs]}, fh, indent=1, default=str)
    say(json.dumps({"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}))
    out.flush()
    return 0


def _shutdown() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    try:
        from py4j.protocol import Py4JError
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # the gateway may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # Python workers leave once the JVM has gone; wait for them too
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
