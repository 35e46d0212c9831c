"""Round-6 optimization measurement harness (bench.py is FROZEN — all
extra instrumentation lives here).

Modes:
  python bench_extra.py control            # ~5-10 s pure-compute host-health control
  python bench_extra.py cycle4             # phase isolation for cycle4_count (noop sinks)
  python bench_extra.py explain [tag]      # dump .explain("formatted") for the bench
                                           # queries to plans/r06/<q>_<tag>.txt
  python bench_extra.py suite [k]          # min-of-k timed run of the 11 bench queries
                                           # (same methodology as bench.py, one JSON/run)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from peregrine_spark.session import get_spark  # noqa: E402
from peregrine_spark.sources.testdata import copurchase_edges, part_labels  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def control(spark) -> float:
    """Pure-compute hash-fold, no shuffle — the BENCH.md host-health
    control (healthy: ~0.7-1.5 s at 32c for 2B rows; we run 1B ≈ half)."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return timed(
        lambda: spark.range(0, 1_000_000_000, 1, cores * 2)
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
    n_edges = edges.count()

    if mode == "cycle4":
        from peregrine_spark.operators.csr import oriented_adjacency_context

        out: dict[str, float] = {"n_edges": n_edges}
        sc = spark.sparkContext

        t0 = time.perf_counter()
        _caches: list = []
        fwd, adj, hubs = oriented_adjacency_context(edges, caches=_caches)
        adj = adj.cache()
        n_fwd = fwd.count()
        adj.count()
        out["setup_ctx"] = round(time.perf_counter() - t0, 3)

        sc.setJobDescription("cycle4: A-wedges explode only")
        aw = adj.select(
            F.explode(
                F.expr(
                    "flatten(transform(adj, (a, i) ->"
                    " transform(slice(adj, i + 2, size(adj) - i - 1),"
                    " b -> struct(least(a, b) as x, greatest(a, b) as y))))"
                )
            ).alias("p")
        ).select("p.x", "p.y", F.lit(1).alias("is_a"))
        out["aw_rows"] = aw.count()
        out["aw_noop"] = noop(aw)

        sc.setJobDescription("cycle4: B-wedges explode only")
        bw_joined = fwd.join(
            F.broadcast(adj.select(F.col("id").alias("dst"), "adj")), "dst"
        )
        bw = bw_joined.select(
            F.col("src").alias("a"), F.explode("adj").alias("b")
        ).select(
            F.least("a", "b").alias("x"),
            F.greatest("a", "b").alias("y"),
            F.lit(0).alias("is_a"),
        )
        out["bw_rows"] = bw.count()
        out["bw_noop"] = noop(bw)

        sc.setJobDescription("cycle4: pairs groupBy")
        pairs = (
            aw.unionByName(bw)
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("nab"), F.sum("is_a").alias("na"))
        )
        out["pairs_rows"] = pairs.count()
        out["pairs_noop"] = noop(pairs)

        sc.setJobDescription("cycle4: + C-term broadcast joins + final agg")
        ax = adj.select(F.col("id").alias("x"), F.col("adj").alias("ax"))
        ay = adj.select(F.col("id").alias("y"), F.col("adj").alias("ay"))
        with_ay = pairs.join(F.broadcast(ax), "x", "left").join(
            F.broadcast(ay), "y", "left"
        )
        final = with_ay.select(
            (
                F.expr("nab * (nab - 1) DIV 2 + na * (na - 1) DIV 2")
                + F.col("nab")
                * F.when(
                    F.col("ax").isNotNull() & F.col("ay").isNotNull(),
                    F.size(F.array_intersect("ax", "ay")),
                ).otherwise(F.lit(0))
            ).alias("v")
        ).agg(F.expr("coalesce(sum(v), 0L) DIV 2").cast("long").alias("n_cycles"))
        out["full_tail"] = timed(lambda: final.collect())

        sc.setJobDescription("cycle4: end-to-end")
        from peregrine_spark.operators.motifs import cycle4_count

        out["end_to_end"] = timed(lambda: cycle4_count(edges).collect())
        out["n_fwd"] = n_fwd
        print(json.dumps(out))
        return

    if mode == "groups10":
        # phase isolation for the motifs5_groups10_mod4 bench entry:
        # context stats, fused group action, clique5 — same structure as
        # the frozen bench.py's _groups10
        from peregrine_spark.operators.groups import (
            GroupCountContext,
            group_count_many,
        )
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
        ctx = GroupCountContext(e4)
        out["ctx_stats"] = timed(lambda: ctx._ensure_stats())
        out["array_mode"] = ctx.array_mode()
        sc.setJobDescription("groups10: adj table build")
        out["adj_build"] = timed(lambda: ctx.adj_table().count())
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
        ctx.unpersist()
        e4.unpersist()
        out["_control"] = control(spark)
        print(json.dumps(out))
        return

    if mode == "explain":
        tag = sys.argv[2] if len(sys.argv) > 2 else "before"
        os.makedirs("plans/r06", exist_ok=True)
        from peregrine_spark.operators import graph as G
        from peregrine_spark.operators.labels import (
            discover_star_labels,
            discover_star_labels_3,
            mni_star2_supports,
        )
        from peregrine_spark.operators.motifs import cycle4_count
        from peregrine_spark.operators.triangles import triangle_count

        lab = part_labels(spark, SF_DIR)
        # dump the INTERNAL lazy plans of the eager operators
        import peregrine_spark.operators.labels as labels_mod
        from peregrine_spark.operators.csr import _triangle_count_df

        labels_mod.EAGER_SMALL = False
        plans = {
            "derive_edges": lambda: copurchase_edges(spark, SF_DIR),
            "triangle_count": lambda: _triangle_count_df(edges),
            "degrees": lambda: G.degrees(edges),
            "cycle4": None,  # eager .first() inside; route-1 plan below
            "star2_labels": lambda: discover_star_labels(edges, lab),
            "star3_labels": lambda: discover_star_labels_3(edges, lab),
            "mni_star2_supports": lambda: mni_star2_supports(edges, lab),
        }
        for name, fn in plans.items():
            if fn is None:
                continue
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn().explain("formatted")
            with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
                f.write(buf.getvalue())
            print(f"wrote plans/r06/{name}_{tag}.txt")

        # cycle4 route 1 (full wedge enumeration) — cycle4_count is
        # eager, so rebuild its route-1 plan here (same expressions as
        # operators/motifs.py) for the .explain dump
        from peregrine_spark.operators.csr import _oriented_adjacency

        _caches: list = []
        fwd, _adj, _hubs, _n, _small, _deg, _can = _oriented_adjacency(
            edges, caches=_caches, broadcast_max_edges=20_000_000
        )
        sc = spark.sparkContext
        nbr = _can.select("src", F.col("dst").alias("nb")).union(
            _can.select(F.col("dst").alias("src"), F.col("src").alias("nb"))
        )
        runs = nbr.groupBy(F.col("src").alias("id")).agg(
            F.sort_array(F.collect_list("nb")).alias("adj")
        ).repartition(sc.defaultParallelism * 4)
        P = 1 << 32
        pairs = (
            runs.select(F.posexplode("adj").alias("i", "x"), "adj")
            .select(
                F.col("x"),
                F.explode(F.expr("slice(adj, i + 2, size(adj) - i - 1)")).alias("y"),
            )
            .select((F.col("x").cast("bigint") * F.lit(P) + F.col("y")).alias("k"))
        )
        route1 = (
            pairs.repartition(64, "k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.expr("coalesce(sum(n * (n - 1) DIV 2), 0L) DIV 2")
                .cast("long")
                .alias("n_cycles")
            )
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            route1.explain("formatted")
        with open(f"plans/r06/cycle4_route1_{tag}.txt", "w") as f:
            f.write(buf.getvalue())
        print(f"wrote plans/r06/cycle4_route1_{tag}.txt")
        for df in _caches:
            df.unpersist()
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

        def t(name, fn):
            t0 = time.perf_counter()
            out = fn()
            timings[name] = round(time.perf_counter() - t0, 3)
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

        from peregrine_spark.operators.groups import (
            GroupCountContext,
            group_count_many,
        )

        dense10 = [
            "m5_000", "m5_001", "m5_003", "m5_004", "m5_007",
            "m5_008", "m5_011", "m5_017", "m5_019", "m5_020",
        ]
        cat5 = all_motifs(5)
        e4 = edges.filter((F.col("src") + F.col("dst")) % 4 == 0).cache()
        e4.count()

        def _groups10():
            from peregrine_spark.operators.patterns import clique_count

            ctx = GroupCountContext(e4)
            out = group_count_many(
                e4, {n: cat5[n] for n in dense10 if n != "m5_020"}, ctx
            )
            out["m5_020"] = clique_count(e4, 5).first()["n_cliques"]
            ctx.unpersist()
            return out

        t("motifs5_groups10_mod4", lambda: sum(_groups10().values()))
        e4.unpersist()
        timings["_control"] = control(spark)
        print(json.dumps(timings))
        return

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
