"""Golden fixture graphs (FIXTURES.md §3) as raw edge lists.

Mirrors the reference's truth-file strategy: small graphs whose properties
are known in closed form (K6 clique roundtrip is the same fixture the
reference uses in core/integrationtests/DataConverter_test.hh:7-94)."""

import itertools

import numpy as np

# complete graph K6 on ids 1..6 — C(6,3) = 20 triangles, 1 component
K6 = np.array(list(itertools.combinations(range(1, 7), 2)), dtype=np.int64)

# two triangles {1,2,3}, {4,5,6} + bridge 3-4 — 2 triangles, 1 component
TWO_TRI_BRIDGE = np.array(
    [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)], dtype=np.int64
)

# hub 0 + 50 leaves — 0 triangles, exercises the skew/hub-split path
STAR_HUB = np.array([(0, i) for i in range(1, 51)], dtype=np.int64)

# 3 components: path of 5 (10..14), triangle (20,21,22), edge (30,31)
DISCONNECTED = np.array(
    [(10, 11), (11, 12), (12, 13), (13, 14), (20, 21), (21, 22), (20, 22), (30, 31)],
    dtype=np.int64,
)

ALL = {
    "k6": K6,
    "two_tri_bridge": TWO_TRI_BRIDGE,
    "star_hub": STAR_HUB,
    "disconnected": DISCONNECTED,
}


def to_spark_edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def triangle_set(pairs) -> set[tuple[int, int, int]]:
    """Every triangle of the graph as a sorted (a, b, c), by brute force
    over all vertex triples."""
    adj = {(int(a), int(b)) for a, b in pairs}
    adj |= {(b, a) for a, b in adj}
    ids = sorted({v for e in adj for v in e})
    return {
        t
        for t in itertools.combinations(ids, 3)
        if (t[0], t[1]) in adj and (t[1], t[2]) in adj and (t[0], t[2]) in adj
    }


def random_graph(n: int, n_draws: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic dense-ish golden graph for the group-counting tests
    (every k ≤ 6 motif class needs nonzero counts somewhere)."""
    import random

    rng = random.Random(seed)
    pairs = sorted(
        {tuple(sorted((rng.randrange(n), rng.randrange(n)))) for _ in range(n_draws)}
    )
    return [p for p in pairs if p[0] != p[1]]
