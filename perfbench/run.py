"""Link-graph benchmark.

    python3 perfbench/run.py --workload web_crawl --seed 7 --seconds 1 --trace 0

One run is one fresh process on ``local[nproc]``:

1. set-up (``setup_s``): start the session, generate the workload's
   inputs from ``--seed`` as parquet in the run's directory, then one
   untimed warm-up pass over them;
2. timed passes of the workload's operators until ``--seconds`` of pass
   time have accumulated (at least one pass), each followed, untimed, by
   pulling its outputs to the driver; then, once, the retained heap;
3. with ``--trace 1``, one more pass with every operator traced
   (trace.py), for the per-layer metrics;
4. every pass's outputs, the warm-up pass's included, checked against
   independent references (oracles.py).

The time metrics of the timed passes are CPU seconds of the engine's
processes (``engine_cpu_clock``); wall times are in the run record and
the per-layer metrics.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}``, with the end-to-end metrics for ``--trace 0`` and
the per-layer ones for ``--trace 1``. The line before it is the run
record (load average, CPU steal, versions, warm-up times, per-pass
timings), which is also written under ``perfbench/.work/records/``.
Every file the run writes stays under ``perfbench/.work/``. See
README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "parallel_connected_components_spark"

# Confirm a claimed gain on this seed only after the change is written;
# the seeds used while tuning stay below 100.
HELD_OUT_SEED = 4242

# Environment switches that change the engine's plans or resources; a run
# measures the defaults, so they are cleared for the benchmark's process.
_ENGINE_ENV = (
    "SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_LOOP_AQE", "SPARK_GRAFT_SHUFFLE_METRICS",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
)

OPS = ("extract", "cc", "cc_resume", "pagerank", "scc", "triangles", "minhash", "dup_clusters")

END_TO_END = {"setup_s": "s", "total_cpu_s": "s", "retained_heap_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in output order."""
    from perfbench.trace import OP_COUNTERS
    from perfbench.workloads import LOOP_OPS

    unit = {"jobs": "count", "stages": "count", "tasks": "count", "task_skew": "ratio"}
    out = {}
    for op in OPS:
        for c in OP_COUNTERS:
            out[f"{op}.{c}"] = "bytes" if c.endswith("bytes") else unit.get(c, "s")
        out[f"{op}.cpu_s"] = "s"
    for op in LOOP_OPS:
        out[f"{op}.iterations"] = "count"
        out[f"{op}.iter_s_p50"] = "s"
        out[f"{op}.outside_loop_s"] = "s"
    out["cc.edges_per_s_iter"] = "1/s"
    out["pagerank.edges_per_s_iter"] = "1/s"
    out.update({
        "tables.snapshots": "count", "tables.snapshot_bytes": "bytes",
        "tables.snapshot_iter_extra_s": "s", "tables.resume_iterations": "count",
        "graph.canonical_edges": "count", "graph.sym_edges": "count",
        "graph.max_degree": "count", "scc.rounds": "count", "minhash.pairs": "count",
        "trace.total_s": "s", "trace.overhead_s": "s", "timed.wall_s": "s",
        "setup.wall_s": "s", "jvm.peak_rss_mb": "MB",
    })
    return out


# ---------------------------------------------------------------------------
# process set-up and tear-down
# ---------------------------------------------------------------------------


def confine(run_dir: str) -> None:
    """Point every temporary file of this process, the JVM it launches and
    Spark's shuffle/spill directory into ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    for k in _ENGINE_ENV:
        os.environ.pop(k, None)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    # Compiler threads that outlive the run keep their CPU time readable
    # per thread (see jit_cpu_s); a dynamic one takes its time with it.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads'"
        " pyspark-shell"
    )


def start_session(run_dir: str):
    from parallel_connected_components_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of process ``pid`` (VmHWM), in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait for it and the Python workers it
    started to exit."""
    from pyspark import SparkContext

    jvm = spark.sparkContext._jvm
    children = [int(h.pid()) for h in jvm.java.lang.ProcessHandle.current().descendants().toArray()]
    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session launches afresh
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                raise RuntimeError(f"worker process {pid} outlived the JVM")
            time.sleep(0.05)


def cpu_times() -> tuple[int, int]:
    """(busy + idle, steal) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``cpu_times`` readings: a run measured under a noisy neighbour shows."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except FileNotFoundError:
        return False


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def prepare_inputs(spark, wl, seed: int, run_dir: str) -> dict:
    """Generate the inputs into ``run_dir``; -> tables."""
    from perfbench import inputs as inp

    path = os.path.join(run_dir, "inputs")
    inp.write_inputs(spark, wl.sizes, seed, path)
    tables = inp.read_inputs(spark, path)
    for df in tables.values():
        df.count()
    return tables


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and all its
    descendants, with those of exited children they reaped: here the
    driver, the JVM and the Python workers it forks. Time the hypervisor
    gave to other guests is not in it."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while listed
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _CLK_TCK


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat", encoding="ascii") as f:
                name, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
        except (FileNotFoundError, ProcessLookupError):
            continue
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / _CLK_TCK


def engine_cpu_clock(jvm: int):
    """-> a clock of the engine's CPU seconds: the driver, the JVM and its
    Python workers, without the JIT compiler threads. The JIT is still
    compiling during the timed passes, and how far it has got depends on
    the CPU the host gave it."""
    return lambda: tree_cpu_s(os.getpid()) - jit_cpu_s(jvm)


def retained_heap_mb(spark, rounds: int = 10) -> float:
    """JVM heap in use, in MB, once full collections stop freeing more
    than 1 MB: with every cache freed first, what the engine still holds
    (status store, broadcasts, leaked objects), independent of when the
    collector last ran."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = float("inf")
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        used = mem.getHeapMemoryUsage().getUsed() / 2**20
        if last - used < 1.0:
            break
        last = used
        # Spark's ContextCleaner unpersists the RDDs and broadcasts that
        # collection found unreachable, on its own thread
        time.sleep(0.3)
    return used


@contextmanager
def snapshot_spans(spans: list):
    """Time every ``TableLayer.save_snapshot`` call (the sources.tables
    layer's durable write) without changing what it does."""
    from parallel_connected_components_spark.sources.tables import TableLayer

    orig = TableLayer.save_snapshot

    def timed(self, *a, **k):
        t0 = time.perf_counter()
        try:
            return orig(self, *a, **k)
        finally:
            spans.append(time.perf_counter() - t0)

    TableLayer.save_snapshot = timed
    try:
        yield
    finally:
        TableLayer.save_snapshot = orig


def pass_total(wl, p) -> float:
    """Summed wall time of the pass's operators."""
    return sum(p.times[op] for op in wl.ops)


def pass_cpu(wl, p) -> float:
    """Summed engine CPU seconds of the pass's operators."""
    return sum(p.cpu[op] for op in wl.ops)


def layer_metrics(wl, p, collected: dict, tracer, spans: list, untraced_total: float,
                  setup_wall_s: float) -> dict:
    from perfbench.trace import OP_COUNTERS, loop_metrics

    names = per_layer_units()
    m = {k: 0 for k in names}
    for op in OPS:
        for k in OP_COUNTERS:
            if op in tracer.ops:
                m[f"{op}.{k}"] = tracer.ops[op][k]
    for op, v in p.cpu.items():
        m[f"{op}.cpu_s"] = v
    loops = collected["loops"]
    for op, iters in loops.items():
        for k, v in loop_metrics(iters, tracer.ops[op]["wall_s"]).items():
            m[f"{op}.{k}"] = v
    canon = collected.get("canonical_edges", 0)
    for op in ("cc", "pagerank"):
        if m[f"{op}.wall_s"]:
            m[f"{op}.edges_per_s_iter"] = canon * m[f"{op}.iterations"] / m[f"{op}.wall_s"]
    snap_iters, plain_iters = [], []
    saves = iter(spans)  # save_snapshot calls, in iteration order
    for op in ("cc", "cc_resume"):
        for it in loops.get(op, []):
            if it.snapshot is None:
                plain_iters.append(it.seconds)
            else:
                snap_iters.append(it.seconds + next(saves))
    m["tables.snapshots"] = len(snap_iters)
    m["tables.snapshot_bytes"] = collected.get("snapshot_bytes", 0)
    if snap_iters and plain_iters:
        m["tables.snapshot_iter_extra_s"] = (
            statistics.median(snap_iters) - statistics.median(plain_iters)
        )
    m["tables.resume_iterations"] = m["cc_resume.iterations"]
    m["graph.canonical_edges"] = canon
    m["graph.sym_edges"] = collected.get("sym_edges", 0)
    m["graph.max_degree"] = collected.get("max_degree", 0)
    m["scc.rounds"] = collected.get("scc_rounds", 0)
    m["minhash.pairs"] = len(collected["minhash"]) if "minhash" in collected else 0
    m["trace.total_s"] = pass_total(wl, p)
    m["trace.overhead_s"] = m["trace.total_s"] - untraced_total
    m["timed.wall_s"] = untraced_total
    m["setup.wall_s"] = setup_wall_s
    return {k: {"value": m[k], "unit": u} for k, u in names.items()}


def source_digest() -> str:
    """sha256 over the package's source files, for the run record (the
    checkout a run builds from need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    rev = out.stdout.strip()
    return rev if out.returncode == 0 and rev else None


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One benchmark run; -> (result, run record)."""
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Pass, failed_ops, free_all, reference, run_pass

    __import__(PACKAGE)  # fail before any JVM starts when the package is missing
    wl = WORKLOADS[workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    confine(run_dir)
    import pyarrow
    import pyspark

    record: dict = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "sizes": wl.sizes, "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": os.getloadavg(), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "python": sys.version.split()[0],
        "git_rev": git_rev(), "source_sha256": source_digest(),
    }
    try:
        t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
        spark = start_session(run_dir)
        try:
            record["master"] = spark.sparkContext.master
            jvm = jvm_pid(spark)
            clock = engine_cpu_clock(jvm)
            record["session_s"] = time.perf_counter() - t0
            t1 = time.perf_counter()
            inputs = prepare_inputs(spark, wl, seed, run_dir)
            record["input_s"] = time.perf_counter() - t1
            t1 = time.perf_counter()
            # one untimed pass over the same inputs pays the first-call costs
            warm = Pass(cpu_clock=clock)
            outputs = [run_pass(spark, wl, inputs, warm, run_dir)]
            gc.collect()
            free_all(spark)
            record["warmup_s"] = time.perf_counter() - t1
            record["warmup_op_s"] = warm.times
            record["warmup_op_cpu_s"] = warm.cpu
            record["setup_wall_s"] = time.perf_counter() - t0
            setup_s = clock() - c0

            passes = []
            timed = 0.0
            cpu0 = cpu_times()
            while not passes or timed < seconds:
                p = Pass(cpu_clock=clock)
                outputs.append(run_pass(spark, wl, inputs, p, run_dir))
                passes.append(p)
                timed += pass_total(wl, p)
                gc.collect()  # let py4j release the pass's JVM objects first
                free_all(spark)
            record["retained_heap_mb"] = retained = retained_heap_mb(spark)
            totals = [pass_total(wl, p) for p in passes]
            record["pass_op_s"] = [p.times for p in passes]
            record["pass_op_cpu_s"] = [p.cpu for p in passes]
            record["loadavg_after"] = os.getloadavg()
            record["cpu_steal_share"] = steal_share(cpu0, cpu_times())

            if trace:
                spans: list[float] = []
                tracer = Tracer(spark)
                p = Pass(tracer, cpu_clock=clock)
                with snapshot_spans(spans):
                    collected = run_pass(spark, wl, inputs, p, run_dir)
                free_all(spark)
                passes.append(p)
                outputs.append(collected)
                record["traced_op_s"] = p.times
                record["traced_op_cpu_s"] = p.cpu
                record["loadavg_after_trace"] = os.getloadavg()

            t2 = time.perf_counter()
            ref = reference(spark, wl, inputs, outputs[0])
            failures = failed_ops(ref, [warm, *passes], outputs)
            record["failures"] = failures
            record["check_s"] = time.perf_counter() - t2
            record["peak_rss_mb"] = peak_rss_mb(jvm)
            record["jit_cpu_s"] = jit_cpu_s(jvm)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if trace:
        metrics = layer_metrics(
            wl, p, collected, tracer, spans, statistics.median(totals), record["setup_wall_s"]
        )
        metrics["jvm.peak_rss_mb"]["value"] = record["peak_rss_mb"]
    else:
        values = {
            "setup_s": setup_s,
            "total_cpu_s": statistics.median(pass_cpu(wl, p) for p in passes),
            "retained_heap_mb": retained,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    result = {
        "correct": not failures,
        "attempted": sum(len(p.times) for p in [warm, *passes]),
        "failed": len(failures),
        "metrics": metrics,
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("web_crawl", "road_grid"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(os.path.join(WORK, "records", name), "w", encoding="utf-8") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
