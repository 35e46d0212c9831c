"""The timed operations of each workload and the checks on their answers.

Every op goes through the library's public operators. ``run_op`` is timed
and returns what the op's caller would hold: a materialized DataFrame, a
``SuperstepResult`` or a small driver-side value. ``check`` is not timed;
it runs after every op of the run and compares the value with the
expected answer. A check may run Spark jobs (to collect a state); the
collector excludes them.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

import numpy as np

# PageRank runs to tol under a superstep cap, as two calls: the first
# stops at PR_CAP // 2 and writes a checkpoint dir, the second resumes
# from it. The synthetic graphs do not converge within the cap, so both
# calls always run their full share of supersteps.
PR_CAP = 3
PR_TOL = 1e-6

REPO_OPS = ["ingest", "pagerank", "pagerank_resume"]
COPURCHASE_OPS = ["triangle", "cycle4", "star2"]
ALL_OPS = REPO_OPS + COPURCHASE_OPS

# The ops of one run, in the order the single closed-loop client issues
# them. Each workload starts with its ingest, whose tables the others read.
WORKLOAD_OPS = {
    "repo_iterative": REPO_OPS,
    "copurchase_mining": ["ingest"] + COPURCHASE_OPS,
}

# Per-workload figures: seconds summed over the named ops of a run.
FIGURES = {
    "ingest_s": ("ingest",),
    "pagerank_s": ("pagerank", "pagerank_resume"),
    "triangle_s": ("triangle",),
    "cycle4_s": ("cycle4",),
    "labels_s": ("star2",),
}


@dataclass
class Graphs:
    """The inputs of one run and the tables its ingest op derives."""

    spark: object
    d: str  # input directory
    work: str  # scratch directory of this run (checkpoint dirs)
    repo_files: object = None  # read by ingest
    edges: object = None  # repo link graph, cached by ingest
    closure: object = None  # its undirected closure, cached (PageRank input)
    co_edges: object = None  # co-purchase graph, cached by ingest
    labels: object = None  # part labels (a small parquet scan, not cached)
    caches: list = field(default_factory=list)

    @property
    def ckpt(self) -> str:
        return os.path.join(self.work, "checkpoint")

    @property
    def is_repo(self) -> bool:
        return os.path.exists(os.path.join(self.d, "repo_files.parquet"))


def release(g: Graphs) -> None:
    for df in g.caches:
        df.unpersist()
    shutil.rmtree(g.ckpt, ignore_errors=True)


# ----------------------------------------------------------------- ops --
def _rows(df) -> list[list[int]]:
    return sorted([int(v) for v in r] for r in df.collect())


def _cached(g: Graphs, df):
    df = df.cache()
    g.caches.append(df)
    df.count()
    return df


def _ingest(g: Graphs):
    """Read the generated parquet and derive the graph tables the later
    ops share; each is cached and released after the run's checks."""
    from peregrine_spark.operators import graph as G
    from peregrine_spark.sources import ingest, testdata

    if g.is_repo:
        g.repo_files = g.spark.read.parquet(os.path.join(g.d, "repo_files.parquet"))
        g.edges = _cached(g, ingest.extract_edges(g.repo_files))
        g.closure = _cached(g, G.undirected(g.edges))
        return g.edges
    g.co_edges = _cached(g, testdata.copurchase_edges(g.spark, g.d))
    g.labels = testdata.part_labels(g.spark, g.d)
    return g.co_edges


def run_op(g: Graphs, op: str):
    """Run one op; returns the value its check reads."""
    from peregrine_spark.operators import iterative as IT

    if op == "ingest":
        return _ingest(g)
    if op == "pagerank":
        shutil.rmtree(g.ckpt, ignore_errors=True)
        return IT.pagerank(
            g.spark, g.closure, tol=PR_TOL, max_iter=PR_CAP // 2,
            checkpoint_dir=g.ckpt, resume=False,
        )
    if op == "pagerank_resume":
        return IT.pagerank(
            g.spark, g.closure, tol=PR_TOL, max_iter=PR_CAP,
            checkpoint_dir=g.ckpt, resume=True,
        )
    if op == "triangle":
        from peregrine_spark.operators.triangles import triangle_count

        return [[int(triangle_count(g.co_edges).collect()[0]["n_triangles"])]]
    if op == "cycle4":
        from peregrine_spark.operators.motifs import cycle4_count

        return [[int(cycle4_count(g.co_edges).collect()[0]["n_cycles"])]]
    if op == "star2":
        from peregrine_spark.operators.labels import discover_star_labels

        return _rows(discover_star_labels(g.co_edges, g.labels))
    raise ValueError(f"unknown op {op!r}")


# -------------------------------------------------------------- checks --
def expected(g: Graphs, results: list[tuple[str, object]]) -> dict:
    """Expected answers for the ops that ran (computed or loaded from the
    per-seed cache; never timed)."""
    import json

    from inputs import expected_repo

    if g.is_repo:
        pr_iters = [v.supersteps for op, v in results if op.startswith("pagerank") and v]
        exp = expected_repo(g.d, g.repo_files, pr_iters)
        exp["edges_checked"] = exp["edges"]
        return exp
    with open(os.path.join(g.d, "expected_copurchase.json")) as f:
        exp = json.load(f)
    exp["edges_checked"] = np.load(os.path.join(g.d, "co_edges.npy"))
    return exp


def corrupt(exp: dict) -> None:
    """Change one expected answer, so that a correct run must fail a check
    (the self-test's proof that checks bite)."""
    if "vertices" in exp:
        pr = min(k for k in exp if k.startswith("pr"))
        exp[pr] = exp[pr].copy()
        exp[pr][0] += 1e-3
    else:
        exp["triangle"] = [[exp["triangle"][0][0] + 1]]


def _state(res, col: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = res.state.select("id", col).toPandas().sort_values("id")
    return pdf["id"].to_numpy(np.int64), pdf[col].to_numpy()


def check(exp: dict, op: str, value) -> bool:
    if op == "ingest":
        got = value.select("src", "dst").toPandas().to_numpy(np.int64)
        want = exp["edges_checked"]
        got = got[np.lexsort((got[:, 1], got[:, 0]))]
        return got.shape == want.shape and bool((got == want).all())
    if op in ("pagerank", "pagerank_resume"):
        ids, rank = _state(value, "rank")
        return bool(
            np.array_equal(ids, exp["vertices"])
            and np.allclose(rank, exp[f"pr{value.supersteps}"], rtol=0, atol=1e-6)
        )
    return value == exp[op]


def figures(ops: list[str], walls: list[float], supersteps: dict, closure_rows: int) -> dict:
    """The figures whose ops the run issued, as {name: (value, unit)};
    ``pagerank_edge_steps_per_s`` is closure rows × supersteps over
    ``pagerank_s``."""
    wall = dict(zip(ops, walls))
    out = {
        name: (sum(wall[op] for op in names), "s")
        for name, names in FIGURES.items()
        if all(op in wall for op in names)
    }
    pr = supersteps.get("pagerank_resume")
    if pr is not None and "pagerank_s" in out:
        out["pagerank_edge_steps_per_s"] = (closure_rows * pr.supersteps / out["pagerank_s"][0], "1/s")
    return out


def superstep_median_s(results: list) -> float:
    """Median wall of one superstep over SuperstepResult.metrics (one
    record per partition with a checkpoint dir, so dedupe by superstep)."""
    walls = []
    for res in results:
        seen = {}
        for m in res.metrics:
            if m["superstep"] > 0:
                seen[m["superstep"]] = m["wall_ms"]
        walls += list(seen.values())
    return statistics.median(walls) / 1000.0 if walls else 0.0
