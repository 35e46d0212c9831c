"""Seeded inputs and the expected answers they are checked against.

Everything here runs outside every timing. The generators run in a
child process (this file run as a script), so that they do not count in
the benchmark process's peak memory; the reference answers are computed after that peak
is read. ``prepare`` writes a workload's parquet inputs
(and the DuckDB oracle answers for the co-purchase graph) into
``.work/inputs/<workload>-<size>-s<seed>/``; a directory that already
holds ``_done`` is reused. ``expected_repo`` computes the repo graph's
reference answers once the engine's vertex ids are known.

Two input shapes:

- ``repo_files(repo, path, commit, lang, content)`` from the library's own
  synthesizer (``sources.synth``): include lines with zipf(2) targets, so
  the link graph has one dominant hub file.
- a TPC-H-shaped ``lineitem(l_orderkey, l_partkey)`` and
  ``part(p_partkey, p_brand)``: Poisson(4.07) lines per order (at least
  one), uniform part keys, 25 brands ``Brand#MN`` with M, N in 1..5.
  sf0.1 has the same line-count and brand distribution.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

# (repo files, orders, parts); 0 means the graph is not generated. Sized
# so that one run, with its two fresh-JVM set-ups, stays near a minute on
# a 4-core host (see README.md).
SIZES = {
    "repo_iterative": (5_000, 0, 0),
    "copurchase_mining": (0, 1_500, 250),
}
SHUFFLE_PARTITIONS = 32  # session.DEFAULT_SHUFFLE_PARTITIONS


def input_dir(root: str, workload: str, seed: int, sizes: tuple) -> str:
    size = "-".join(str(n) for n in sizes)
    return os.path.join(root, "inputs", f"{workload}-{size}-s{seed}")


def prepare(root: str, workload: str, seed: int, sizes: tuple) -> str:
    """Return the input directory for (workload, sizes, seed), generating
    it in a child process first if it is not cached."""
    d = input_dir(root, workload, seed, sizes)
    if not os.path.exists(os.path.join(d, "_done")):
        # a plain child, waited for here: it leaves no helper process behind
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), d, json.dumps([list(sizes), seed])],
            check=True,
        )
    return d


def _generate(d: str, sizes: tuple, seed: int) -> None:
    os.makedirs(d, exist_ok=True)
    n_files, n_orders, n_parts = sizes
    stats = {}
    if n_files:
        stats["repo"] = _write_repo(d, n_files, seed)
    if n_orders:
        stats["copurchase"] = _write_copurchase(d, n_orders, n_parts, seed)
        with open(os.path.join(d, "expected_copurchase.json"), "w") as f:
            json.dump(_copurchase_oracles(d), f)
    with open(os.path.join(d, "stats.json"), "w") as f:
        json.dump(stats, f)
    open(os.path.join(d, "_done"), "w").close()


def _graph_stats(pairs: np.ndarray) -> dict:
    """|V|, |E|, max degree and hub count of the undirected closure, with
    the hub threshold the library derives for it."""
    from peregrine_spark.operators.skew import auto_hub_threshold

    lo = np.minimum(pairs[:, 0], pairs[:, 1])
    hi = np.maximum(pairs[:, 0], pairs[:, 1])
    und = np.unique(np.stack([lo, hi], axis=1), axis=0)
    _, deg = np.unique(und.ravel(), return_counts=True)
    thr = auto_hub_threshold(2 * len(und), SHUFFLE_PARTITIONS)
    return {
        "V": int(len(deg)),
        "E": int(len(und)),
        "max_degree": int(deg.max()) if len(deg) else 0,
        "hub_threshold": int(thr),
        "hubs": int((deg > thr).sum()),
    }


def _write_repo(d: str, n_files: int, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from peregrine_spark.sources import synth

    pdf, pairs = synth._gen(n_files, seed)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(d, "repo_files.parquet"),
        row_group_size=max(1024, n_files // 32),
    )
    # ground truth on file indices; expected_repo maps them to the
    # engine's vertex ids
    pdf[["repo", "path"]].to_parquet(os.path.join(d, "file_keys.parquet"))
    np.save(os.path.join(d, "truth_pairs.npy"), np.unique(pairs, axis=0))
    return _graph_stats(pairs)


def _write_copurchase(d: str, n_orders: int, n_parts: int, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    lines = np.maximum(1, rng.poisson(4.07, n_orders))
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    pkey = rng.integers(1, n_parts + 1, size=len(okey), dtype=np.int64)
    pq.write_table(
        pa.table({"l_orderkey": okey, "l_partkey": pkey}),
        os.path.join(d, "lineitem.parquet"),
    )
    brand = rng.integers(1, 6, size=(n_parts, 2))
    pq.write_table(
        pa.table(
            {
                "p_partkey": np.arange(1, n_parts + 1, dtype=np.int64),
                "p_brand": [f"Brand#{a}{b}" for a, b in brand],
            }
        ),
        os.path.join(d, "part.parquet"),
    )
    pairs = []
    start = 0
    for n in lines:
        ps = np.unique(pkey[start : start + n])
        start += n
        i, j = np.triu_indices(len(ps), 1)
        pairs.append(np.stack([ps[i], ps[j]], axis=1))
    pairs = np.unique(np.concatenate(pairs), axis=0)
    np.save(os.path.join(d, "co_edges.npy"), pairs)
    return _graph_stats(pairs)


def _copurchase_oracles(d: str) -> dict:
    """The repository's DuckDB oracle SQL, unmodified, over the generated
    parquet: rows as sorted lists of int tuples."""
    import duckdb

    from peregrine_spark.plans import oracles

    sql = {
        "triangle": oracles.triangle_count_sql(),
        "cycle4": oracles.cycle4_count_sql(),
        "star2": oracles.star2_labels_sql(),
    }
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    out = {}
    for name, q in sql.items():
        rows = con.execute(q).fetchall()
        out[name] = sorted([int(v) for v in r] for r in rows)
    con.close()
    return out


def expected_repo(d: str, repo_files, pr_iters: list[int]) -> dict:
    """Reference answers for the repo graph, on the engine's vertex ids:
    edges and PageRank after each superstep count in ``pr_iters``.

    The ids are Spark's xxhash64 of (repo, path), read from
    ``ingest.vertex_map``; the answers come from ``reference.py`` and are
    cached next to the inputs per superstep set."""
    key = "-".join(str(n) for n in sorted(set(pr_iters)))
    path = os.path.join(d, f"expected_repo-pr{key}.npz")
    if not os.path.exists(path):
        import pandas as pd

        from peregrine_spark import reference
        from peregrine_spark.sources.ingest import vertex_map

        keys = pd.read_parquet(os.path.join(d, "file_keys.parquet"))
        vm = vertex_map(repo_files).select("id", "repo", "path").toPandas()
        ids = keys.merge(vm, on=["repo", "path"], how="left")["id"].to_numpy(np.int64)
        truth = np.load(os.path.join(d, "truth_pairs.npy"))
        edges = np.unique(np.stack([ids[truth[:, 0]], ids[truth[:, 1]]], axis=1), axis=0)
        # PageRank runs on the undirected closure, as the engine's input is
        e = reference.canonical_pairs(edges)
        und = np.concatenate([e, e[:, ::-1]])
        v = np.unique(e)
        out = {"edges": edges, "vertices": v}
        for n in sorted(set(pr_iters)):
            pr = reference.pagerank(und, n_iter=n)
            out[f"pr{n}"] = np.array([pr[i] for i in v])
        np.savez(path + ".tmp.npz", **out)
        os.replace(path + ".tmp.npz", path)
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


if __name__ == "__main__":
    # python3 perfbench/inputs.py <dir> '[[files, orders, parts], seed]',
    # from the repository root
    sys.path.insert(1, os.getcwd())
    sizes, seed = json.loads(sys.argv[2])
    _generate(sys.argv[1], tuple(sizes), seed)
