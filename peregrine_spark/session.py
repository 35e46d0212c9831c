"""SparkSession factory tuned for the link-graph workload.

Local-mode knobs mirror what a multi-executor submit would set via
spark-submit conf; the partitioning strategy (explicit repartition on graph
keys, AQE for skew) is what actually carries to a 1000-executor cluster.

Defaults fit the host they run on: ``local[<usable cores>]``, a driver
heap of at most half the host's memory, 2 × ``defaultParallelism``
shuffle partitions (the width ``labels.py``, ``motifs.py`` and the tests
already use), and a local driver JVM with two JIT compiler threads and
the parallel collector (``LOCAL_JAVA_OPTIONS``). Cached intermediates
are as wide as their data: AQE may coalesce a cached plan's output.

``local_frame`` is how operators hand back results they computed on the
driver.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

MAX_DRIVER_MEM_MB = 16 * 1024

# The local driver JVM shares the host's cores with the task slots. By
# default HotSpot sizes its JIT pool by core count (3 threads on 4 cores)
# and picks G1, whose concurrent threads add to it; at the sizes we run,
# compilation alone was about half of a query's CPU. 2 compiler threads is
# the tiered minimum (one C1, one C2), and the parallel collector has no
# concurrent phase. Cluster masters keep the JVM defaults.
# (flag, pattern of a caller's flag that already decides the same thing)
LOCAL_JAVA_OPTIONS = (
    ("-XX:+UseParallelGC", r"-XX:\+Use\w+GC\b"),
    ("-XX:CICompilerCount=2", r"-XX:CICompilerCount="),
)
# Where a caller's own JVM flags for the driver can come from, besides
# spark.driver.extraJavaOptions.
_JAVA_OPTION_ENV = (
    "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS"
)


def _default_driver_mem() -> str:
    """16g, capped at half the host's memory (MemTotal): the heap must
    leave room for the JVM's off-heap use, Python workers and the OS."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, host_mb // 2))}m"


def _local_cores(master: str) -> int | None:
    """The defaultParallelism a local master resolves to (local, local[N],
    local[*], local[N,F]); None for a cluster master."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\d+)?\])?", master)
    if m is None:
        return None
    return len(os.sched_getaffinity(0)) if m[1] == "*" else int(m[1] or 1)


def _local_java_options(extra_conf: dict[str, str]) -> str:
    """The LOCAL_JAVA_OPTIONS flags that the caller's own JVM flags do
    not already decide, for ``spark.driver.defaultJavaOptions``. A
    caller's flag must win. Spark puts that conf ahead of
    ``spark.driver.extraJavaOptions``, so a flag there would win anyway;
    but the JVM reads JAVA_TOOL_OPTIONS and JDK_JAVA_OPTIONS before the
    command line, so ours would override those, and a second collector
    flag anywhere aborts JVM start ("Multiple garbage collectors
    selected")."""
    theirs = " ".join(
        [os.environ.get(k, "") for k in _JAVA_OPTION_ENV]
        + [extra_conf.get("spark.driver.extraJavaOptions", "")]
    )
    return " ".join(
        flag for flag, decided in LOCAL_JAVA_OPTIONS if not re.search(decided, theirs)
    )


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over rows already on the driver (tuples in schema
    order), built from an Arrow table: Spark plans it as a LocalRelation,
    so reading it runs no Spark job and starts no Python worker (a
    createDataFrame over a list plans a scan of a Python RDD)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    master: str | None = None,
    app_name: str = "peregrine_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]``, else to the number of
    cores this process may run on. ``spark.sql.shuffle.partitions`` is
    ``shuffle_partitions``, else ``$SPARK_GRAFT_SHUFFLE``, else 2 × the
    session's ``defaultParallelism``. A local master's driver JVM gets
    ``LOCAL_JAVA_OPTIONS`` as ``spark.driver.defaultJavaOptions`` (see
    ``_local_java_options``). AQE is on: it coalesces small shuffle
    partitions, cached plans' included, and splits skewed ones at
    runtime — the safety net under our explicit hub splitting.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    if shuffle_partitions is None and os.environ.get("SPARK_GRAFT_SHUFFLE"):
        shuffle_partitions = int(os.environ["SPARK_GRAFT_SHUFFLE"])
    cores = _local_cores(master)
    if shuffle_partitions is None and cores:
        # known before start-up, so it goes in with the builder: a runtime
        # conf set would build the session state inside set-up (~0.5 s)
        shuffle_partitions = 2 * cores
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the output of cached plans too: a cache of a
        # few KB keeps one partition instead of the shuffle width, so each
        # scan of it runs one task, not a full task wave. A user-numbered
        # repartition(n, key) is never coalesced, so the co-partitioned
        # superstep caches (iterative._split_gather) keep their width.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
    )
    # Shuffle/spill files on tmpfs when available (overridable via
    # SPARK_GRAFT_LOCAL_DIR): this box's /tmp is a spinning-rust ext4 —
    # a real cluster gives every executor fast local spill disks, which
    # is what spark-submit's own spark.local.dir would point at; it makes
    # the shuffle write cost I/O-realistic, not a local-only trick.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if cores and (java_options := _local_java_options(extra_conf or {})):
        builder = builder.config("spark.driver.defaultJavaOptions", java_options)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if shuffle_partitions is None and "spark.sql.shuffle.partitions" not in (
        extra_conf or {}
    ):
        # a cluster master: its parallelism is known once it runs
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(2 * spark.sparkContext.defaultParallelism)
        )
    return spark
