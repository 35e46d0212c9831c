"""spark-submit entrypoint for the link-graph engine.

Cluster launch (the sandbox uses local[N]; on a real cluster swap master
and add --num-executors):

    python tools/make_pyfiles.py               # builds dist/peregrine_spark.zip
    spark-submit --master local[32] \
        --py-files dist/peregrine_spark.zip \
        jobs/linkgraph_job.py \
        --input /path/to/repo_files.parquet \
        --algo pagerank --tol 1e-6 \
        --checkpoint-dir /tmp/pr_ckpt --output /tmp/pr_out

Resumability: re-running with the same --checkpoint-dir continues from
the last completed superstep (plans/superstep.py); --no-resume restarts.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="repo_files parquet")
    ap.add_argument(
        "--algo",
        required=True,
        choices=["pagerank", "cc", "lp", "triangles", "degrees"],
    )
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--n-iter", type=int, default=10, help="LP supersteps")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--output", default=None, help="result parquet path")
    args = ap.parse_args()

    # import AFTER spark-submit has placed the --py-files zip on sys.path
    from pyspark.sql import SparkSession

    from peregrine_spark.operators import graph as G
    from peregrine_spark.operators.iterative import (
        connected_components,
        label_propagation,
        pagerank,
    )
    from peregrine_spark.operators.triangles import triangle_count
    from peregrine_spark.sources.ingest import ingest

    spark = SparkSession.builder.appName(f"linkgraph-{args.algo}").getOrCreate()
    t0 = time.time()
    parts = ingest(spark.read.parquet(args.input))
    edges, vmap = parts["edges"], parts["vertex_map"]

    meta: dict = {"algo": args.algo, "input": args.input}
    if args.algo == "pagerank":
        res = pagerank(
            spark,
            edges,
            tol=args.tol,
            max_iter=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
            resume=not args.no_resume,
            input_fingerprint=args.input,
        )
        out = res.state.select("id", "rank")
        meta.update(supersteps=res.supersteps, converged=res.converged)
    elif args.algo == "cc":
        res = connected_components(
            spark,
            edges,
            max_iter=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
            resume=not args.no_resume,
            input_fingerprint=args.input,
        )
        out = res.state
        meta.update(supersteps=res.supersteps, converged=res.converged)
    elif args.algo == "lp":
        res = label_propagation(
            spark,
            edges,
            n_iter=args.n_iter,
            checkpoint_dir=args.checkpoint_dir,
            resume=not args.no_resume,
            input_fingerprint=args.input,
        )
        out = res.state
        meta.update(supersteps=res.supersteps)
    elif args.algo == "triangles":
        out = triangle_count(edges)
    else:
        out = G.degrees(edges)

    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        meta["rows"] = spark.read.parquet(args.output).count()
    else:
        meta["rows"] = out.count()
    meta["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(meta))


if __name__ == "__main__":
    main()
