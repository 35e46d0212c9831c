"""Seeded link-graph benchmark: one workload in one fresh process.

    python3 perfbench/run.py --workload repo_iterative --seed 1 --seconds 40 --trace 0

Run it from the repository root. It generates the workload's inputs from
``--seed`` (cached under ``perfbench/.work/``), sets a session up in a
fresh JVM and issues the workload's fixed op sequence once (one
closed-loop client). Then it
computes the expected answers and checks every op's answer. The last line
of stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` gives the end-to-end metrics, ``--trace 1``
the per-layer ones (see README.md).

The run length is the op sequence, the same on every commit and host;
``--seconds`` is accepted, so that every benchmark takes the same
arguments, and does not change it.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import resource
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def peak_rss_mb(spark) -> float:
    """JVM VmHWM (found through ProcessHandle) plus the Python driver's
    ru_maxrss."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _tree() -> dict[int, int]:
    """{pid: CPU ticks} of this process and each live descendant: user
    plus system time of the process, plus what it collected from the
    children it reaped."""
    me = os.getpid()
    parent, ticks = {}, {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        parent[int(p)] = int(st[1])
        ticks[int(p)] = sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    tree = {}
    for pid, n in ticks.items():
        q = pid
        while q != me and q in parent and parent[q] != q:
            q = parent[q]
        if q == me:
            tree[pid] = n
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and its Python workers). Unlike wall time, it does not grow when the
    host runs other tenants' work."""
    return sum(_tree().values()) / os.sysconf("SC_CLK_TCK")


def effective_conf(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "spark.local.dir": conf.get("spark.local.dir"),
        "spark.version": spark.version,
    }


def stop_jvm(spark=None) -> None:
    """Stop the session, shut the py4j gateway down and wait for the JVM to
    exit (killing it if it does not within a minute), so that no process
    of the run outlives it and the next session starts a fresh one."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            finally:
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()


@contextlib.contextmanager
def owned_processes(grace_s: float = 30.0):
    """Wait, on every way out of the block, until each process started in
    it has ended. This process becomes their subreaper, so an orphan (a
    Python worker whose JVM exited first) is reparented to it and waited
    for too; whatever still runs ``grace_s`` after the block is killed.
    SIGTERM exits through the same path."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        yield
    finally:
        deadline = time.monotonic() + grace_s
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:  # none left
                break
            if pid:
                continue
            if time.monotonic() > deadline:
                for p in _tree():
                    if p != os.getpid():
                        with contextlib.suppress(OSError):
                            os.kill(p, signal.SIGKILL)
            time.sleep(0.05)


def run(workload: str, seed: int, trace: bool, sizes=None, corrupt=False) -> dict:
    """One run. ``sizes`` and ``corrupt`` exist for the self-test: tiny
    inputs, and one expected answer changed so that a check must fail."""
    import inputs
    from collector import TRACE_CONF

    d = inputs.prepare(WORK, workload, seed, sizes or inputs.SIZES[workload])
    with open(os.path.join(d, "stats.json")) as f:
        for graph, st in json.load(f).items():
            print(f"input {graph}: " + " ".join(f"{k}={v}" for k, v in st.items()))

    from peregrine_spark.session import get_spark

    # One set-up per run: each launches a JVM (about 9 s on a 4-core host),
    # and a second one would not fit the benchmark's time budget.
    t = time.perf_counter()
    spark = None
    try:
        spark = get_spark(app_name="perfbench", extra_conf=TRACE_CONF if trace else None)
        setup_s = time.perf_counter() - t
        return _measure(spark, setup_s, workload, d, trace, corrupt)
    finally:
        stop_jvm(spark)


def _measure(spark, setup_s, workload, d, trace, corrupt) -> dict:
    import workloads as W
    from collector import CHECK_GROUP, Collector

    print("conf: " + json.dumps(effective_conf(spark)))
    g = W.Graphs(spark, d, os.path.join(WORK, "run"))

    col = Collector(spark) if trace else None
    ops = W.WORKLOAD_OPS[workload]
    results, walls, cpus = [], [], []
    for op in ops:
        c = col.begin(op) if col else None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        value = None
        try:
            value = W.run_op(g, op)
        except Exception:
            traceback.print_exc()
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - cpu0)
        if col:
            col.end(c)
        results.append((op, value))
    rss = peak_rss_mb(spark)  # before any expected-answer or check work
    print(f"setup: {setup_s:.3f}")
    print("ops wall: " + " ".join(f"{op}={w:.3f}" for op, w in zip(ops, walls)))
    print("ops cpu: " + " ".join(f"{op}={w:.3f}" for op, w in zip(ops, cpus)))

    spark.sparkContext.setJobGroup(CHECK_GROUP, "answer check")
    exp = W.expected(g, results)
    if corrupt:
        W.corrupt(exp)
    failed = 0
    for op, value in results:
        ok = False
        if value is not None:
            try:
                ok = W.check(exp, op, value)
            except Exception:
                traceback.print_exc()
        if not ok:
            failed += 1
            print(f"wrong answer or error: {op}", file=sys.stderr)
    supersteps = {op: v for op, v in results if hasattr(v, "supersteps")}
    closure_rows = g.closure.count() if g.closure is not None else 0
    for v in supersteps.values():
        v.state.unpersist()
    W.release(g)

    # The queries are the ops after ingest.
    query = [op != "ingest" for op in ops]
    figures = W.figures(ops, walls, supersteps, closure_rows)
    figures["query_wall_s"] = (sum(w for w, q in zip(walls, query) if q), "s")
    figures["peak_rss_mb"] = (rss, "MB")
    figures["failed_ops"] = (failed / len(ops), "share")
    print("figures: " + " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in figures.items()))
    if trace:
        metrics = layer_metrics(spark, col, ops, walls, figures, supersteps)
    else:
        # CPU seconds, not wall: on a shared VM the wall time of an op also
        # counts the time the host gave this VM's CPUs to other tenants
        # (steal), which moved query walls by a quarter between runs.
        metrics = {
            "setup_s": (setup_s, "s"),
            "ingest_cpu_s": (cpus[ops.index("ingest")], "s"),
            "query_cpu_s": (sum(c for c, q in zip(cpus, query) if q), "s"),
        }
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(spark, col, ops, walls, figures, supersteps) -> dict:
    import workloads as W
    from collector import MODULES

    t = time.perf_counter()
    per_call, mods = col.harvest()
    print(f"harvest_s={time.perf_counter() - t:.3f}")
    out = {}
    families = [
        ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
        ("cpu_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
    ]
    for op in W.ALL_OPS:
        # an op the workload does not run did no work: its figures read 0
        m = dict(per_call[ops.index(op)], wall_s=walls[ops.index(op)]) if op in ops else {}
        for fam, unit in families:
            out[f"{op}.{fam}"] = (m.get(fam, 0), unit)
    for m in MODULES:
        out[f"{m}.jobs"] = (mods[m][0], "count")
        out[f"{m}.busy_s"] = (mods[m][1], "s")
    pr = supersteps.get("pagerank_resume")
    out["pagerank.supersteps"] = (pr.supersteps if pr else 0, "count")
    out["superstep.median_s"] = (W.superstep_median_s(list(supersteps.values())), "s")
    out["pagerank_edge_steps_per_s"] = figures.get("pagerank_edge_steps_per_s", (0, "1/s"))
    out["peak_rss_mb"] = figures["peak_rss_mb"]
    out["cache.leaked"] = (sum(c["leaked"] for c in per_call), "count")
    from bench_extra import control

    out["host.control_s"] = (control(spark), "s")
    out["tracing_overhead_s"] = (col.overhead_s, "s")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0, help="accepted and ignored")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "peregrine_spark")):
        sys.exit("perfbench: no peregrine_spark/ here; run from the repository root")
    import inputs

    if args.workload not in inputs.SIZES:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    sys.path.insert(1, root)
    setup_env()
    with owned_processes():
        result = run(args.workload, args.seed, bool(args.trace))
    print(json.dumps(result))


def setup_env() -> None:
    """One setting, as in the tier-1 tests; every scratch file (shuffle,
    spill, JVM and Python temp files) stays in .work/."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


if __name__ == "__main__":
    main()
