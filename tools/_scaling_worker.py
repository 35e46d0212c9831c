"""Worker for the N-vs-4N scaling evidence run: executes the identical
link-graph job (ingest → K PageRank supersteps → exact triangle count)
at a given core count and prints one JSON line with per-phase AND
per-superstep walls.

Run in a fresh JVM per invocation; tools/bench_scaling.py interleaves
invocations across core counts (A/B/A/B...) and takes min per config, the
noise-robust protocol for this host (~2x run-to-run variance between
identical jobs — see BENCH.md).

Two PageRank modes are timed:
- materialized: every superstep ends in a localCheckpoint barrier (the
  checkpoint/resume structure the north rule requires); per-superstep
  walls come from the superstep driver's own metrics.
- chained: all K supersteps in ONE Spark job (materialize_every=K, valid
  for fixed-K runs) — isolates pure shuffle-pipeline throughput from the
  per-superstep materialization overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from peregrine_spark.operators.graph import undirected  # noqa: E402
from peregrine_spark.operators.iterative import pagerank  # noqa: E402
from peregrine_spark.operators.triangles import triangle_count  # noqa: E402
from peregrine_spark.session import get_spark  # noqa: E402
from peregrine_spark.sources.ingest import extract_edges  # noqa: E402

PR_STEPS = 5


def main() -> None:
    parquet, cores, shuffle = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    spark = get_spark(
        master=f"local[{cores}]",
        app_name=f"scaling-{cores}",
        shuffle_partitions=shuffle,
        extra_conf={
            "spark.driver.memory": "48g",
            # enough input splits that the scan parallelizes at 4N cores
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            # shuffle files on tmpfs: a real cluster gives every executor
            # its own spill disks; one shared spindle would otherwise
            # serialize BOTH configs on the same IO bottleneck
            "spark.local.dir": os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"
            ),
        },
    )
    files = spark.read.parquet(parquet)

    t0 = time.perf_counter()
    edges = extract_edges(files).cache()
    n_edges = edges.count()
    ingest_wall = time.perf_counter() - t0

    und = undirected(edges).cache()
    n_und = und.count()

    # Warm-up: compile the whole-stage-codegen plans once so the timed
    # phases measure steady-state throughput, not JIT, at both core counts.
    pagerank(spark, und, tol=None, max_iter=1, resume=False)
    warm = edges.limit(50_000).cache()
    triangle_count(warm).collect()
    warm.unpersist()

    # PageRank, materialized per superstep (checkpoint/resume structure)
    t0 = time.perf_counter()
    res = pagerank(spark, und, tol=None, max_iter=PR_STEPS, resume=False)
    pr_wall = time.perf_counter() - t0
    step_walls = sorted(
        m["wall_ms"] / 1000.0 for m in res.metrics if m["superstep"] > 0
    )
    pr_step_median = step_walls[len(step_walls) // 2] if step_walls else None

    # PageRank, all K supersteps chained into one job (hubs left to AQE's
    # skew-join splitting: the hub split would double the unmaterialized
    # state subtree per step)
    t0 = time.perf_counter()
    pagerank(
        spark, und, tol=None, max_iter=PR_STEPS, resume=False,
        checkpoint_interval=PR_STEPS,
    )
    pr_chained_wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_tri = triangle_count(edges).collect()[0]["n_triangles"]
    tri_wall = time.perf_counter() - t0

    # -- host scaling controls (what can THIS box scale at all?) --------
    from pyspark.sql import functions as F

    # pure compute, no shuffle: hash-fold 2B rows (~2s at 32c)
    t0 = time.perf_counter()
    spark.range(0, 2_000_000_000, 1, cores * 2).select(
        F.xxhash64("id").alias("h")
    ).select(F.bit_count("h").alias("b")).agg(F.sum("b")).collect()
    cpu_wall = time.perf_counter() - t0

    # pure shuffle: repartition 200M longs by hash and count per partition
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, cores * 2).repartition(
        cores * 2, F.col("id")
    ).groupBy(F.spark_partition_id()).count().collect()
    shuffle_wall = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "cores": cores,
                "shuffle_partitions": shuffle,
                "n_edges": n_edges,
                "n_und": n_und,
                "n_triangles": n_tri,
                "ingest_wall": round(ingest_wall, 2),
                "pr_supersteps": PR_STEPS,
                "pr_wall": round(pr_wall, 2),
                "pr_step_median": round(pr_step_median, 2),
                "pr_chained_wall": round(pr_chained_wall, 2),
                "tri_wall": round(tri_wall, 2),
                "cpu_wall": round(cpu_wall, 2),
                "shuffle_wall": round(shuffle_wall, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
