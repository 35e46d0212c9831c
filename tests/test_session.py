"""Host-fit session defaults, checked in a fresh JVM (the suite's own
session is built with explicit overrides): local[<usable cores>], a
driver heap within half the host's memory, 2 × defaultParallelism
shuffle partitions unless ``shuffle_partitions=`` or
``SPARK_GRAFT_SHUFFLE`` says otherwise — and a checkpointed PageRank
that starts no Python worker."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, tempfile
from peregrine_spark.session import get_spark
from peregrine_spark.operators.iterative import pagerank

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
jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
out["python_workers"] = python_children(jvm)
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_host_fit_defaults_and_overrides():
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM")
    }
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", CHILD],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])

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

    assert out["supersteps"] == 2
    assert out["python_workers"] == []
