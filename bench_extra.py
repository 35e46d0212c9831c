"""Round-6 optimization measurement harness (bench.py is FROZEN — all
extra instrumentation lives here).

Modes:
  python bench_extra.py control            # ~5-10 s pure-compute host-health control
  python bench_extra.py groups10           # phase isolation for motifs5_groups10_mod4
  python bench_extra.py suite [k]          # min-of-k timed run of the 11 bench queries
                                           # (same methodology as bench.py, one JSON/run;
                                           # "cpu_s" holds each query's process-tree CPU)

Plan shapes are pinned by tests/test_plan_shape.py, not by explain dumps.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from peregrine_spark.session import get_spark  # noqa: E402
from peregrine_spark.sources.testdata import copurchase_edges, part_labels  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and any Python workers), from /proc: user + system time of each
    live process plus what it collected from the children it reaped.
    Host steal inflates wall time, not this."""
    me = os.getpid()
    parent, ticks = {}, {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        parent[int(p)] = int(st[1])
        ticks[int(p)] = sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    total = 0
    for pid, n in ticks.items():
        q = pid
        while q != me and q in parent and parent[q] != q:
            q = parent[q]
        total += n if q == me else 0
    return total / os.sysconf("SC_CLK_TCK")


def control(spark) -> float:
    """Pure-compute hash-fold over 1B rows, no shuffle — the BENCH.md
    host-health control. The range has 2 × defaultParallelism partitions,
    so it fits whatever cores the session runs on; compare a wall only
    against runs at the same core count (the BENCH.md history is
    local[32])."""
    return timed(
        lambda: spark.range(
            0, 1_000_000_000, 1, spark.sparkContext.defaultParallelism * 2
        )
        .select(F.xxhash64("id").alias("h"))
        .select(F.bit_count("h").alias("b"))
        .agg(F.sum("b"))
        .collect()
    )


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "control"
    spark = get_spark(app_name=f"bench-extra-{mode}")

    if mode == "control":
        walls = [control(spark) for _ in range(3)]
        print(json.dumps({"control_sec": walls, "min": min(walls)}))
        return

    edges = copurchase_edges(spark, SF_DIR).cache()
    edges.count()

    if mode == "groups10":
        # phase isolation for the motifs5_groups10_mod4 bench entry:
        # context stats, fused group action, clique5 — same structure as
        # the frozen bench.py's _groups10
        from peregrine_spark.operators.graph import GraphContext, adjacency
        from peregrine_spark.operators.groups import group_count_many
        from peregrine_spark.operators.motifs import all_motifs
        from peregrine_spark.operators.patterns import clique_count

        dense10 = [
            "m5_000", "m5_001", "m5_003", "m5_004", "m5_007",
            "m5_008", "m5_011", "m5_017", "m5_019", "m5_020",
        ]
        cat5 = all_motifs(5)
        e4 = edges.filter((F.col("src") + F.col("dst")) % 4 == 0).cache()
        out = {"e4_rows": e4.count()}
        sc = spark.sparkContext

        sc.setJobDescription("groups10: ctx stats")
        with GraphContext(e4) as ctx:
            out["ctx_stats"] = timed(lambda: ctx.n_vertices)
            out["array_mode"] = ctx.array_mode()
            sc.setJobDescription("groups10: adj table build")
            out["adj_build"] = timed(
                lambda: ctx.cache(adjacency(ctx.und)).count()
            )
            sc.setJobDescription("groups10: fused group action")
            out["group_action"] = timed(
                lambda: group_count_many(
                    e4, {n: cat5[n] for n in dense10 if n != "m5_020"}, ctx
                )
            )
            sc.setJobDescription("groups10: clique5")
            out["clique5"] = timed(
                lambda: clique_count(e4, 5).first()["n_cliques"]
            )
        e4.unpersist()
        out["_control"] = control(spark)
        print(json.dumps(out))
        return

    if mode == "suite":
        # Same queries/methodology as frozen bench.py, run once per
        # invocation; repeats orchestrated by the caller.
        from peregrine_spark.operators import graph as G
        from peregrine_spark.operators.iterative import (
            connected_components,
            label_propagation,
            pagerank,
        )
        from peregrine_spark.operators.labels import (
            discover_star_labels,
            discover_star_labels_3,
            mni_star2_supports,
        )
        from peregrine_spark.operators.motifs import all_motifs, cycle4_count
        from peregrine_spark.operators.triangles import triangle_count

        timings: dict[str, float] = {}
        cpu: dict[str, float] = {}

        def t(name, fn):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            out = fn()
            timings[name] = round(time.perf_counter() - t0, 3)
            cpu[name] = round(tree_cpu_s() - c0, 2)
            return out

        t("triangle_count", lambda: triangle_count(edges).collect())
        und = G.undirected(edges).cache()
        und.count()
        t("pagerank", lambda: pagerank(spark, und, tol=1e-6, max_iter=50, resume=False))
        t("connected_components", lambda: connected_components(spark, edges, max_iter=50, resume=False))
        t("label_propagation", lambda: label_propagation(spark, edges, n_iter=3).state.count())
        t("degrees", lambda: G.degrees(edges).count())
        lab = part_labels(spark, SF_DIR).cache()
        lab.count()
        t("cycle4", lambda: cycle4_count(edges).collect())
        t("star2_labels", lambda: discover_star_labels(edges, lab).count())
        t("star3_labels", lambda: discover_star_labels_3(edges, lab).count())
        t("mni_star2_supports", lambda: mni_star2_supports(edges, lab).count())

        from peregrine_spark.operators.graph import GraphContext
        from peregrine_spark.operators.groups import group_count_many

        dense10 = [
            "m5_000", "m5_001", "m5_003", "m5_004", "m5_007",
            "m5_008", "m5_011", "m5_017", "m5_019", "m5_020",
        ]
        cat5 = all_motifs(5)
        e4 = edges.filter((F.col("src") + F.col("dst")) % 4 == 0).cache()
        e4.count()

        def _groups10():
            from peregrine_spark.operators.patterns import clique_count

            with GraphContext(e4) as ctx:
                out = group_count_many(
                    e4, {n: cat5[n] for n in dense10 if n != "m5_020"}, ctx
                )
                out["m5_020"] = clique_count(e4, 5).first()["n_cliques"]
            return out

        t("motifs5_groups10_mod4", lambda: sum(_groups10().values()))
        e4.unpersist()
        timings["_control"] = control(spark)
        print(json.dumps({**timings, "cpu_s": cpu}))
        return

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
