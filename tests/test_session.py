"""Host-fit session defaults, checked in a fresh JVM (the suite's own
session is built with explicit overrides): local[<usable cores>], a
driver heap within half the host's memory, 2 × defaultParallelism
shuffle partitions unless ``shuffle_partitions=`` or
``SPARK_GRAFT_SHUFFLE`` says otherwise, a driver JVM with the parallel
collector and two JIT compiler threads unless the caller's own JVM flags
say otherwise, AQE coalescing of cached plans unless the caller turns it
off — and a checkpointed PageRank and the eager counting operators,
results collected, that start no Python worker."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBES = r"""
import json, os, sys
from peregrine_spark.session import get_spark

def jvm_flags(spark):
    # collector (its MXBean names) and JIT pool size of the driver JVM
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    hotspot = mf.getPlatformMXBean(
        spark._jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {
        "gc": sorted(beans.get(i).getName() for i in range(beans.size())),
        "compilers": int(hotspot.getVMOption("CICompilerCount").getValue()),
    }

def cache_scan(spark):
    # shuffle width, and the tasks that a scan of a cached tiny aggregation
    # runs
    from tests.test_plan_shape import started

    agg = spark.range(1000).selectExpr("id % 10 AS k").groupBy("k").count().cache()
    agg.count()
    tasks = started(spark, agg.collect)["tasks"]
    agg.unpersist()
    return {
        "width": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "cache_scan_tasks": tasks,
    }
"""

OVERRIDE_CHILD = PROBES + r"""
spark = get_spark(app_name="jvm-overrides", extra_conf=json.loads(sys.argv[1]))
out = {**jvm_flags(spark), **cache_scan(spark)}
spark.stop()
print("RESULT " + json.dumps(out))
"""

CHILD = PROBES + r"""
import tempfile
from peregrine_spark.operators.iterative import pagerank
from peregrine_spark.operators.labels import discover_star_labels
from peregrine_spark.operators.motifs import cycle4_count
from peregrine_spark.operators.triangles import triangle_count

def width(spark):
    return int(spark.conf.get("spark.sql.shuffle.partitions"))

def python_children(pid):
    # descendants of the JVM whose command line runs Python (pyspark.daemon
    # and the workers it forks)
    parent, cmd = {}, {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd[int(p)] = f.read().replace(b"\0", b" ").decode()
        except OSError:
            continue
    out = []
    for p in parent:
        q = p
        while q in parent and q != pid and parent[q] != q:
            q = parent[q]
        if q == pid and p != pid and "python" in cmd[p]:
            out.append(cmd[p])
    return out

spark = get_spark(app_name="session-defaults")
sc = spark.sparkContext
out = {
    **jvm_flags(spark),
    **cache_scan(spark),
    "master": sc.master,
    "parallelism": sc.defaultParallelism,
    "driver_memory": sc.getConf().get("spark.driver.memory"),
    "default": width(spark),
    "arg": width(get_spark(shuffle_partitions=5)),
}
os.environ["SPARK_GRAFT_SHUFFLE"] = "7"
out["env"] = width(get_spark())
out["arg_over_env"] = width(get_spark(shuffle_partitions=3))
del os.environ["SPARK_GRAFT_SHUFFLE"]
out["restored"] = width(get_spark())

edges = spark.sql(
    "SELECT * FROM VALUES (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 5L)"
    " AS t(src, dst)"
)
d = tempfile.mkdtemp()
pagerank(spark, edges, tol=1e-9, max_iter=1, checkpoint_dir=d)
res = pagerank(spark, edges, tol=1e-9, max_iter=2, checkpoint_dir=d, resume=True)
out["supersteps"] = res.supersteps
labels = spark.sql("SELECT id, id % 2 AS label FROM range(1, 6)")
out["triangles"] = triangle_count(edges).collect()[0][0]
out["cycles"] = cycle4_count(edges).collect()[0][0]
out["star2_rows"] = len(discover_star_labels(edges, labels).collect())
jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
out["python_workers"] = python_children(jvm)
spark.stop()
print("RESULT " + json.dumps(out))
"""


PARALLEL_GC = ["PS MarkSweep", "PS Scavenge"]


def run_child(code, *args, **env_set):
    """Run `code` in a fresh Python (so a fresh JVM) without this
    project's env overrides or any caller JVM flags; return its RESULT."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in (
            "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM",
            "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
        )
    }
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env.update(env_set)
    proc = subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_host_fit_defaults_and_overrides():
    out = run_child(CHILD)

    cores = len(os.sched_getaffinity(0))
    assert out["master"] == f"local[{cores}]"
    assert out["parallelism"] == cores
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    heap_mb = int(out["driver_memory"].removesuffix("m"))
    assert heap_mb <= max(1024, mem_kb // 2048)

    assert out["default"] == 2 * cores
    assert out["arg"] == 5
    assert out["env"] == 7
    assert out["arg_over_env"] == 3
    assert out["restored"] == 2 * cores

    assert out["gc"] == PARALLEL_GC
    assert out["compilers"] == 2

    # AQE coalesces cached plans: a scan of a cache of a few rows runs
    # fewer tasks than the shuffle width
    assert out["width"] == 2 * cores
    assert out["cache_scan_tasks"] < out["width"]

    assert out["supersteps"] == 2
    assert (out["triangles"], out["cycles"]) == (1, 0)
    assert out["star2_rows"] > 0
    assert out["python_workers"] == []


def test_caller_collector_wins():
    # a second collector flag would abort JVM start
    out = run_child(OVERRIDE_CHILD, "{}", JAVA_TOOL_OPTIONS="-XX:+UseG1GC")
    assert out["gc"] == ["G1 Old Generation", "G1 Young Generation"]
    assert out["compilers"] == 2


def test_caller_compiler_count_wins():
    conf = {"spark.driver.extraJavaOptions": "-XX:CICompilerCount=3"}
    out = run_child(OVERRIDE_CHILD, json.dumps(conf))
    assert out["gc"] == PARALLEL_GC
    assert out["compilers"] == 3


def test_caller_keeps_cached_width():
    conf = {"spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false"}
    out = run_child(OVERRIDE_CHILD, json.dumps(conf))
    assert out["cache_scan_tasks"] == out["width"]
