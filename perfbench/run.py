"""Closed-loop, single-client Cypher benchmark over the TPC-H graph.

    python3 perfbench/run.py --workload olap_warm --seed 1 --seconds 12 --trace 0

Builds ``CypherEngine(GraphCatalog.from_tpch(<sf0.1>, materialize_derived=True))``
on ``local[<nproc>]`` and runs one workload's seeded op sequence (see
NOTES.md). The last stdout line is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans from ``spans.py`` plus Spark-side probes; the span log is
written to ``.perfbench_out/``). The line before it holds the run's
stamps: cores, load, CPU calibration, steal, each op's time, per-shape
medians and the plan-size series. Every read's rows are checked against
DuckDB after the timed loop; a write is checked through the reads that
follow it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import workloads as wl  # noqa: E402
from py4j.protocol import Py4JError, Py4JJavaError  # noqa: E402
from spans import Tracer  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"  # the bench scale (TESTDATA.md)
# op counts are fixed per --seconds, never by the clock, so two commits
# replay identical catalog histories; the rates size a run to ~--seconds
OLAP_WARM_OPS_PER_S = 10.5
MIXED_RW_CYCLES_PER_S = 0.5
MIXED_RW_MAX_CYCLES = 6  # each SET doubles Customer's plan (NOTES.md)
DRIVER_MEMORY = "4g"
SETUP_PARTS = (
    "session.start_s",
    "catalog.build_s",
    "session.pyworker_warm_s",
    "engine.warm_pass_s",
)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------- #
# machine state and hygiene
# ---------------------------------------------------------------------- #
def cpu_calibration_ms() -> float:
    """bench.py's probe: median of five 2M-iteration pure-Python loops."""
    samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i * i
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples) * 1000


def proc_stat() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def pid_cpu_s(pid: int) -> float:
    """utime + stime of a process, seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def preread(*dirs: str) -> None:
    """Read every file under ``dirs`` once so set-up starts from a warm
    page cache rather than from whatever the previous run left there."""
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                try:
                    with open(os.path.join(base, f), "rb") as fh:
                        while fh.read(1 << 20):
                            pass
                except OSError:
                    pass


def preread_dirs() -> list[str]:
    """Spark's jars, the JDK and the packages every Python worker imports."""
    import importlib.util

    def pkg(name: str) -> str:
        return os.path.dirname(importlib.util.find_spec(name).origin)

    home = os.environ.get("SPARK_HOME") or pkg("pyspark")
    java = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "/"))
    )
    return [os.path.join(home, "jars"), java, *(pkg(p) for p in ("pandas", "pyarrow", "numpy"))]


# ---------------------------------------------------------------------- #
# Spark-side probes (py4j; only outside the timed region)
# ---------------------------------------------------------------------- #
def count_exchanges(plan_text: str) -> int:
    n = 0
    for line in plan_text.splitlines():
        node = line.lstrip(" :+-|").split(" ", 1)[0]
        if node in ("Exchange", "BroadcastExchange", "ShuffleExchange"):
            n += 1
    return n


def logical_plan_nodes(df) -> int:
    return len(df._jdf.queryExecution().logical().toString().strip().splitlines())


class JvmProbe:
    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self.seen_jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup())

    def cpu_s(self) -> float:
        return pid_cpu_s(self.pid)

    def gc_ms(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def heap_peak_mb(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        peak = 0
        for pool in mf.getMemoryPoolMXBeans():
            if str(pool.getType().toString()) == "Heap memory":
                peak += pool.getPeakUsage().getUsed()
        return peak / 2**20

    def new_job_stats(self) -> tuple[int, int]:
        """(tasks, shuffle write bytes) of the stages run by jobs that
        started since the last call."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = set(tracker.getJobIdsForGroup()) - self.seen_jobs
        self.seen_jobs |= jobs
        tasks = shuffle = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                try:
                    data = store.lastStageAttempt(stage)
                except Py4JJavaError:  # a skipped stage was never attempted
                    continue
                if str(data.status().toString()) != "COMPLETE":
                    continue
                tasks += int(data.numTasks())
                shuffle += int(data.shuffleWriteBytes())
        return tasks, shuffle


# ---------------------------------------------------------------------- #
# the run
# ---------------------------------------------------------------------- #
def tail_q(n: int) -> float:
    """p90 when at least ten samples lie beyond it, else p75; reported as
    op_p90_ms with the quantile stamped. mixed_rw's 24 ops get p75: more
    writes would not fit the time budget (NOTES.md)."""
    return 0.9 if n >= 100 else 0.75


def hd_quantile(xs, p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: the mean of the order
    statistics weighted by a Beta(p(n+1), (1-p)(n+1)) distribution. The
    nine olap shapes leave gaps between their times, so the single middle
    sample jumps between shapes from run to run; this weighted mean does
    not (about half the sampling spread on 108 olap_warm ops)."""
    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = 1 << 16  # midpoint rule for the Beta CDF at the n + 1 cut points
    x = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.arange(grid + 1) / grid, cdf)
    return float(np.dot(np.diff(edges), s))


def round_len(workload: str) -> int:
    """Ops per round: one pass over the nine shapes, or one four-op cycle."""
    return len(wl.OLAP_SHAPES) if workload == "olap_warm" else 4


def per_round_median(per_op: list[dict], size: int, f) -> float:
    """Median over rounds of ``f(ops of the round)``. Every round holds
    the whole mix, so a burst of host load that slows a few rounds moves
    the result less than it moves a mean."""
    return statistics.median(f(per_op[i : i + size]) for i in range(0, len(per_op), size))


def setup(workdir: str, warm_ops: list, tracer: Tracer | None) -> dict:
    from pycypher_nmetl_spark import CypherEngine, GraphCatalog, get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": f"{workdir}/warehouse",
            "spark.local.dir": f"{workdir}/local",
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={workdir}/derby "
                f"-Djava.io.tmpdir={workdir}/tmp"
            ),
        },
    )
    t1 = time.perf_counter()
    try:
        catalog = GraphCatalog.from_tpch(spark, SF_DIR, materialize_derived=True)
        t2 = time.perf_counter()
        engine = CypherEngine(catalog)
        for th in threading.enumerate():
            if th.name == "pywarm":
                th.join()
        t3 = time.perf_counter()
        if tracer is not None:
            tracer.active = True
        for op in warm_ops:
            run_op(engine, op)
        if tracer is not None:
            tracer.active = False
        t4 = time.perf_counter()
    except BaseException:
        spark_stop(spark)
        raise
    return {
        "spark": spark,
        "catalog": catalog,
        "engine": engine,
        "session.start_s": t1 - t0,
        "catalog.build_s": t2 - t1,
        "session.pyworker_warm_s": t3 - t2,
        "engine.warm_pass_s": t4 - t3,
        "t_end": t4,
    }


def run_op(engine, op, traced: dict | None = None):
    """Execute one op; returns the result frame (None for writes). With
    ``traced`` the plan is forced before the action and its timings and
    exchange count land in that dict; the time spent printing the plan is
    not part of the op."""
    shape = wl.SHAPES[op.shape]
    if op.is_write:
        engine.run(shape.cypher, op.params)
        return None
    df = engine.execute(shape.cypher, op.params)
    if traced is None:
        return df.toPandas()
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    traced["exchanges"] = count_exchanges(plan.toString())
    t2 = time.perf_counter()
    pdf = df.toPandas()
    t3 = time.perf_counter()
    traced["plan_ms"] = (t1 - t0) * 1000
    traced["collect_ms"] = (t3 - t2) * 1000
    traced["untimed_s"] = t2 - t1
    return pdf


def traced_op(i: int, workload: str) -> bool:
    """ABBA over blocks (one op on olap_warm, one four-op cycle on
    mixed_rw): half the ops traced, balanced against drift and against
    the CREATE/SET alternation, so the untraced half gives the overhead."""
    block = i // 4 if workload == "mixed_rw" else i
    return block % 4 in (0, 3)


def make_ops(args) -> tuple[list, list]:
    rng = random.Random(args.seed)
    if args.workload == "olap_warm":
        n = max(9, round(args.seconds * OLAP_WARM_OPS_PER_S))
        return wl.olap_warm_ops(rng, n + (-n) % 9)
    n = round(args.seconds * MIXED_RW_CYCLES_PER_S)
    return wl.mixed_rw_ops(rng, min(MIXED_RW_MAX_CYCLES, max(2, n + n % 2)))


def measure(args, warm_ops: list, ops: list, tracer: Tracer | None) -> dict:
    """Set up, run the timed loop, stop Spark. Results are digested
    between ops, outside the timed region; nothing is checked here."""
    s = setup(args.workdir, warm_ops, tracer)
    spark, engine, catalog = s["spark"], s["engine"], s["catalog"]
    try:
        s["setup_s"] = s["t_end"] - args.t_setup
        probe = JvmProbe(spark)
        per_op: list[dict] = []
        hits0, misses0 = engine.cache.hits, engine.cache.misses
        steal0 = proc_stat()
        for i, op in enumerate(ops):
            per_op.append(timed_op(i, op, args.workload, engine, catalog, probe, tracer))
        steal1 = proc_stat()
        s["per_op"] = per_op
        s["hits"] = engine.cache.hits - hits0
        s["misses"] = engine.cache.misses - misses0
        s["steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        s["heap_peak_mb"] = probe.heap_peak_mb()
        s["plan_nodes_end"] = {
            label: logical_plan_nodes(catalog.nodes(label)) for label in ("Customer", "Order")
        }
    finally:
        spark_stop(spark)
    return s


def timed_op(i, op, workload, engine, catalog, probe, tracer) -> dict:
    rec: dict = {"shape": op.shape, "write": op.is_write}
    on = tracer is not None and traced_op(i, workload)
    if on:
        gc0 = probe.gc_ms()
        probe.new_job_stats()
        tracer.op = i
        tracer.active = True
        nspans = len(tracer.spans)
    j0 = probe.cpu_s()
    c0 = time.process_time()
    t0 = time.perf_counter()
    pdf = run_op(engine, op, rec if on else None)
    t1 = time.perf_counter()
    c1 = time.process_time()
    j1 = probe.cpu_s()
    wall = t1 - t0 - rec.pop("untimed_s", 0.0)
    rec["ms"] = wall * 1000
    rec["cpu_s"] = (c1 - c0) + (j1 - j0)
    rec["traced"] = on
    rec["digest"] = None if pdf is None else wl.digest(pdf)
    if pdf is not None:
        rec["rows"] = len(pdf)
    if on:
        tracer.active = False
        rec["gc_ms"] = probe.gc_ms() - gc0
        rec["tasks"], rec["shuffle_bytes"] = probe.new_job_stats()
        if op.is_write:
            rec["write_ms"] = rec["ms"]
            rec["commit_ms"] = 1000 * sum(
                x.end - x.start for x in tracer.spans[nspans:] if x.name == "catalog.commit"
            )
    if tracer is not None and op.is_write:
        for label in ("Customer", "Order"):
            rec[f"plan_nodes_{label}"] = logical_plan_nodes(catalog.nodes(label))
    return rec


def check(warm_ops: list, ops: list, per_op: list[dict]) -> list[int]:
    """Indices of ops whose rows differ from DuckDB's. The oracle replays
    the warm pass's and the timed loop's writes in the same order."""
    oracle = wl.Oracle(SF_DIR)
    try:
        for op in warm_ops:
            if op.is_write:
                oracle.apply(op)
        wrong, memo = [], {}
        for i, (op, rec) in enumerate(zip(ops, per_op)):
            if op.is_write:
                oracle.apply(op)
                memo.clear()
                continue
            key = (op.shape, tuple(sorted(op.params.items())))
            if key not in memo:
                memo[key] = oracle.digest(op)
            if not wl.same_digest(rec["digest"], memo[key]):
                wrong.append(i)
        return wrong
    finally:
        oracle.close()


def run(args) -> tuple[dict, dict]:
    warm_ops, ops = make_ops(args)
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    try:
        s = measure(args, warm_ops, ops, tracer)
    finally:
        if tracer is not None:
            tracer.uninstall()
    if tracer is not None:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        tracer.dump(str(out / f"trace_{args.workload}_seed{args.seed}.jsonl"))
    per_op = s["per_op"]
    t_check = time.perf_counter()
    wrong = check(warm_ops, ops, per_op)
    t_done = time.perf_counter()

    n_ops = len(ops)
    q = tail_q(n_ops)
    lat_ms = [r["ms"] for r in per_op]
    size = round_len(args.workload)
    e2e = {
        "setup_s": (s["setup_s"], "s"),
        "op_p50_ms": (hd_quantile(lat_ms, 0.5), "ms"),
        "op_p90_ms": (hd_quantile(lat_ms, q), "ms"),
        "ops_per_s": (
            per_round_median(per_op, size, lambda rs: len(rs) * 1000 / sum(r["ms"] for r in rs)),
            "1/s",
        ),
        "op_cpu_ms": (
            per_round_median(per_op, size, lambda rs: sum(r["cpu_s"] for r in rs) * 1000 / len(rs)),
            "ms",
        ),
    }
    stamps = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": args.cores,
        "ops": n_ops,
        "tail_quantile": q,
        "load_1m": args.load_1m,
        "calib_ms": args.calib_ms,
        "steal_pct": s["steal_pct"],
        "setup": {k: s[k] for k in SETUP_PARTS},
        "shape_p50_ms": {
            name: statistics.median(r["ms"] for r in per_op if r["shape"] == name)
            for name in dict.fromkeys(op.shape for op in ops)
        },
        "plan_nodes_end": s["plan_nodes_end"],
        "op_ms": lat_ms,
        "wrong_ops": wrong,
        "check_s": t_done - t_check,
        "run_s": t_done - args.t_start,
    }
    if tracer is None:
        metrics = e2e
    else:
        metrics = layer_metrics(s, tracer)
        writes = [r for r in per_op if r["write"]]
        stamps["plan_nodes_after_each_write"] = {
            label: [r[f"plan_nodes_{label}"] for r in writes] for label in ("Customer", "Order")
        }
    result = {
        "correct": not wrong,
        "attempted": n_ops,
        "failed": len(wrong),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return stamps, result


def layer_metrics(s: dict, tracer: Tracer) -> dict:
    """Per-layer numbers of a traced run. Compile layers are per compiled
    (cache-missing) read, warm pass included, so olap_warm reports its
    nine compiles; the rest are per traced timed op, averaged per shape."""
    per_op = s["per_op"]
    traced = [r for r in per_op if r["traced"]]
    reads = [r for r in traced if not r["write"]]
    writes = [r for r in traced if r["write"]]
    dur = [x.end - x.start for x in tracer.spans]
    own = tracer.self_times()
    py4j = tracer.subtree_py4j()
    kids: dict[int, dict[str, float]] = {}
    for k, x in enumerate(tracer.spans):
        if x.parent is not None:
            d = kids.setdefault(x.parent, {})
            d[x.name] = d.get(x.name, 0.0) + dur[k]
    # reads that missed the cache (a hit returns before parse); a write's
    # execute also runs the mutation, which mutations.write_ms covers
    compiles = [
        k for k, x in enumerate(tracer.spans)
        if x.name == "engine.execute"
        and x.parent is None
        and "cypher.parse" in kids.get(k, {})
    ]

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def per_compile(name: str) -> float:
        return mean(kids[k].get(name, 0.0) * 1000 for k in compiles)

    def avg(key: str, rows: list[dict]) -> float:
        # per shape first: which ops land in the traced half depends on
        # the seed, the shape mix of the result must not
        by_shape: dict[str, list] = {}
        for r in rows:
            by_shape.setdefault(r["shape"], []).append(r[key])
        return mean(mean(v) for v in by_shape.values())

    overhead = 100.0 * (
        hd_quantile([r["ms"] for r in traced], 0.5)
        / hd_quantile([r["ms"] for r in per_op if not r["traced"]], 0.5)
        - 1
    )
    m = {k: (s[k], "s") for k in SETUP_PARTS}
    m.update(
        {
            "cypher.parse_ms": (per_compile("cypher.parse"), "ms"),
            "semantic.validate_ms": (per_compile("semantic.validate"), "ms"),
            "guards.complexity_ms": (per_compile("guards.complexity"), "ms"),
            # execute's self time: what parse/validate/guards do not cover
            "compiler.compile_ms": (mean(own[k] * 1000 for k in compiles), "ms"),
            "compiler.py4j_calls": (mean(py4j[k] for k in compiles), "count"),
            "catalyst.plan_ms": (avg("plan_ms", reads), "ms"),
            "catalyst.exchanges": (avg("exchanges", reads), "count"),
            "exec.collect_ms": (avg("collect_ms", reads), "ms"),
            "exec.tasks": (avg("tasks", traced), "count"),
            "exec.shuffle_write_bytes": (avg("shuffle_bytes", traced), "B"),
            "exec.rows_out": (avg("rows", reads), "count"),
            "cache.hit_ratio": (s["hits"] / max(1, s["hits"] + s["misses"]), "ratio"),
            "mutations.write_ms": (avg("write_ms", writes), "ms"),
            "catalog.commit_ms": (avg("commit_ms", writes), "ms"),
            "catalog.plan_nodes": (sum(s["plan_nodes_end"].values()), "count"),
            "jvm.gc_ms": (avg("gc_ms", traced), "ms"),
            "jvm.heap_peak_mb": (s["heap_peak_mb"], "MB"),
            "tracing.overhead_pct": (overhead, "%"),
        }
    )
    return m


def spark_stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit:
    the gateway JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap_warm", "mixed_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    args.t_start = t_start
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "pycypher_nmetl_spark" / "__init__.py").is_file():
        fail(f"no pycypher_nmetl_spark package under {ROOT}")
    if not os.path.isdir(SF_DIR):
        fail(f"test data {SF_DIR} missing")
    sys.path.insert(0, str(ROOT))

    # machine stamps and page-cache warm, before the set-up clock starts
    args.load_1m = os.getloadavg()[0]
    args.calib_ms = cpu_calibration_ms()
    preread(SF_DIR, *preread_dirs())
    args.cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_NO_PYWARM", None)  # set-up always warms workers

    runs = ROOT / ".perfbench_run"
    runs.mkdir(exist_ok=True)
    args.workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        for sub in ("tmp", "local"):
            os.makedirs(f"{args.workdir}/{sub}")
        os.environ["TMPDIR"] = f"{args.workdir}/tmp"
        os.environ["SPARK_LOCAL_DIRS"] = f"{args.workdir}/local"
        tempfile.tempdir = None
        args.t_setup = time.perf_counter()
        stamps, result = run(args)
    finally:
        shutil.rmtree(args.workdir, ignore_errors=True)
    print(json.dumps({"perfbench": stamps}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
