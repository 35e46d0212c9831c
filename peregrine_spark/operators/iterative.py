"""Iterative link-graph algorithms as gather-scatter supersteps.

Each superstep is exactly one join (state × edges, shuffle on the gather
key) + one groupBy (scatter key) + a small |V|-sized state rebuild —
the bounded-shuffle structure the north rule demands. Lineage truncation,
checkpointing and resume come from plans/superstep.py.

Skew note: the scatter ``groupBy(dst)`` partially aggregates map-side
(Spark's hash agg), so a hub file with 10^6 in-references reduces to one
row per map partition before the shuffle — the same effect as the
reference's work-stealing over hub-adjacent tasks
(/root/reference/core/Peregrine.hh:94-102), without explicit salting.
The state×edges gather is a hinted SHUFFLE_HASH join over a cached edge
side, which AQE's skew-join cannot split: hub sources are split off
instead and join a broadcast slice of the state (_split_gather).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from peregrine_spark.operators import skew
from peregrine_spark.operators.graph import GraphContext
from peregrine_spark.plans.superstep import SuperstepDriver, SuperstepResult

# label propagation's argmax key n·2⁶⁴ + (2⁶³−1−label) stays below 10³⁸,
# the decimal(38,0) bound, while every count n is below this
LP_MAX_COUNT = 1 << 62
_DEC = "decimal(38,0)"


def _dec(v: int) -> Column:
    """An exact decimal(38,0) literal (a Python int above 2⁶³ is none)."""
    return F.lit(str(v)).cast(_DEC)


def _split_gather(
    edges: DataFrame,
    deg: DataFrame,
    deg_col: str,
    n_rows: int,
    max_deg: int,
    cache: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame], DataFrame]:
    """The per-superstep gather ``edges ⨝ src_state`` on src, over a
    static edge side split ONCE and cached with `cache` (the caller
    releases it):

    - hubs are the ids of the degree table `deg` (id, deg_col) hotter
      than auto_hub_threshold(n_rows); `max_deg` rules the collect job
      out on hub-free graphs. Hub edges are cached ROUND-ROBIN across
      n_part partitions and join a BROADCAST slice of the state, so
      their rows never shuffle. Any placement is correct for a map-side
      join, but partitioning them by key puts a mega-hub in one task:
      on the 23M-edge zipf graph that task ran 7-9.5 s per superstep
      against a 0.25 s stage median.
    - the rest is cached hash-partitioned by src into n_part partitions,
      which the SHUFFLE_HASH join reuses: only the (|V|-sized) state
      side shuffles. The session lets AQE coalesce cached plans, but
      never a user-numbered repartition, so the cache keeps its width."""
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    hubs = skew.hub_keys(
        deg, "id", deg_col, skew.auto_hub_threshold(n_rows), max_deg
    )
    is_hub = F.col("src").isin(hubs)
    rest = cache((edges.filter(~is_hub) if hubs else edges).repartition(n_part, "src"))
    hub = cache(edges.filter(is_hub).repartition(n_part)) if hubs else None

    def gather(src_state: DataFrame) -> DataFrame:
        j = rest.join(src_state.hint("shuffle_hash"), "src")
        if hub is not None:
            j = j.unionByName(hub.join(F.broadcast(src_state.filter(is_hub)), "src"))
        return j

    return gather


# --------------------------------------------------------------------------
# PageRank
# --------------------------------------------------------------------------
def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    input_fingerprint: str | None = None,
) -> SuperstepResult:
    """Directed PageRank with uniform dangling redistribution; converges
    when max|Δrank| < tol. State schema: (id, rank, out_deg).

    r_{t+1} = (1-d)/N + d * (Σ_in r_t/outdeg + dangling_mass/N)
    """
    edges = edges.select("src", "dst")
    if vertices is None:
        # ONE groupBy over both edge ends: every end is a vertex and its
        # src ends count its out-degree (replaces a union-distinct, a
        # second groupBy and a join — three shuffles for one)
        vstatic = (
            edges.select(F.col("src").alias("id"), F.lit(1).alias("o"))
            .union(edges.select(F.col("dst").alias("id"), F.lit(0).alias("o")))
            .groupBy("id")
            .agg(F.sum("o").alias("out_deg"))
        )
    else:
        out_deg = edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        vstatic = (
            vertices.select("id")
            .join(out_deg, "id", "left")
            .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        )
    caches = [vstatic.cache()]

    def cache(df: DataFrame) -> DataFrame:
        caches.append(df.cache())
        return df

    # ONE setup aggregation over the cached |V| table replaces three
    # separate jobs (vstatic.count, the dangling limit(1) probe, and
    # edges.count for the hub threshold — Σ out_deg IS the edge count);
    # its max out-degree rules the hub collect job out on hub-free graphs.
    srow = vstatic.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("out_deg") == 0).cast("long")).alias("n_dangling"),
        F.coalesce(F.sum("out_deg"), F.lit(0).cast("long")).alias("n_e"),
        F.coalesce(F.max("out_deg"), F.lit(0).cast("long")).alias("max_deg"),
    ).first()
    n = int(srow["n"])
    if n == 0:
        vstatic.unpersist()
        return SuperstepResult(vstatic.select("id", F.lit(0.0).alias("rank")), 0, True)
    # src multiplicity in `edges` IS out_deg, so the hub keys come from a
    # scan of the cached vstatic — no extra full-edge groupBy job
    gather = _split_gather(
        edges, vstatic, "out_deg", int(srow["n_e"]), int(srow["max_deg"]), cache
    )

    # each rank's share of the dangling mass (0 on a dangling-free graph)
    dangling_rank = F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)
    # the dangling mass of the state the next step reads: observed while
    # the previous state materialized, known without a job for the initial
    # state, and aggregated over a resumed state once
    dm_cell = {"dm": None if int(srow["n_dangling"]) > 0 else 0.0}

    def init() -> DataFrame:
        dm_cell["dm"] = int(srow["n_dangling"]) / n  # every rank is 1/n
        return vstatic.select("id", F.lit(1.0 / n).alias("rank"), "out_deg")

    def step(state: DataFrame, _k: int) -> DataFrame:
        if dm_cell["dm"] is None:
            dm_cell["dm"] = state.agg(F.sum(dangling_rank)).first()[0] or 0.0
        dm = dm_cell["dm"]
        # Gather: only hub sources see a broadcast state slice — a
        # per-superstep broadcast of the FULL state would be rebuilt
        # driver-side each time (measured 20-40% of superstep wall).
        src_state = state.filter(F.col("out_deg") > 0).select(
            F.col("id").alias("src"),
            (F.col("rank") / F.col("out_deg")).alias("w"),
        )
        contrib = (
            gather(src_state)
            .select(F.col("dst").alias("id"), "w")
            .groupBy("id")
            .agg(F.sum("w").alias("c"))
        )
        base = (1.0 - damping) / n + damping * dm / n
        new_rank = F.lit(base) + F.lit(damping) * F.coalesce("c", F.lit(0.0))
        # join the STATE rather than vstatic: its old rank rides along as
        # _r0, so the observed delta is max|r_k − r_{k−1}|. The executed
        # plan shuffles the materialized state on id before this join —
        # the scan of a checkpointed state reports no partitioning — and
        # the gather above shuffles it again on src: two |V|-row
        # exchanges of the state per superstep
        return state.join(contrib.hint("shuffle_hash"), "id", "left").select(
            "id", new_rank.alias("rank"), "out_deg", F.col("rank").alias("_r0")
        )

    def delta(seen: dict) -> float:
        dm_cell["dm"] = seen["dm"] or 0.0
        return seen["delta"]

    driver = SuperstepDriver(
        spark, "pagerank", checkpoint_dir, max_iter=max_iter, tol=tol,
        input_fingerprint=input_fingerprint,
    )
    observed = [
        F.max(F.abs(F.col("rank") - F.col("_r0"))).alias("delta"),
        F.sum(dangling_rank).alias("dm"),
    ]
    res = driver.run(init, step, observed, delta, resume=resume)
    # the result state is materialized (localCheckpoint/parquet) — the
    # static caches are no longer reachable from it; holding them would
    # leak executor storage for the session lifetime (measured: leaked
    # caches from earlier bench queries inflated later ones' walls)
    for df in caches:
        df.unpersist()
    return res


# --------------------------------------------------------------------------
# Connected components (hash-min)
# --------------------------------------------------------------------------
def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    input_fingerprint: str | None = None,
) -> SuperstepResult:
    """Hash-min components: comp(v) = min vertex id reachable; synchronous
    min-propagation to fixpoint. State: (id, comp) — exact integers.

    Converges in O(diameter) supersteps. (Large-diameter graphs would want
    the large-/small-star pointer-doubling variant; link graphs are
    small-diameter so hash-min's strictly-bounded shuffle wins.)
    """
    with GraphContext(edges) as ctx:
        # the vertex ids are the degree table's unless the caller passes
        # a vertex set (isolated vertices)
        ids = ctx.deg if vertices is None else ctx.cache(vertices.select("id"))
        gather = _split_gather(
            ctx.und, ctx.deg, "deg", ctx.n_und, ctx.max_deg, ctx.cache
        )

        def init() -> DataFrame:
            return ids.select("id", F.col("id").alias("comp"))

        def step(state: DataFrame, _k: int) -> DataFrame:
            src_state = state.select(F.col("id").alias("src"), "comp")
            msgs = (
                gather(src_state)
                .select(F.col("dst").alias("id"), "comp")
                .groupBy("id")
                .agg(F.min("comp").alias("mincomp"))
            )
            new_comp = F.least("comp", F.coalesce("mincomp", "comp"))
            # the old component rides along as _c0: the delta counts the
            # vertices that changed. The state side shuffles on id here as
            # well (see pagerank)
            return state.join(msgs.hint("shuffle_hash"), "id", "left").select(
                "id", new_comp.alias("comp"), F.col("comp").alias("_c0")
            )

        driver = SuperstepDriver(
            spark, "cc", checkpoint_dir, max_iter=max_iter, tol=0.5,
            input_fingerprint=input_fingerprint,
        )
        changed = (F.col("comp") != F.col("_c0")).cast("long")
        return driver.run(
            init, step,
            [F.coalesce(F.sum(changed), F.lit(0).cast("long")).alias("changed")],
            lambda seen: float(seen["changed"]),
            resume=resume,
        )


# --------------------------------------------------------------------------
# Label propagation
# --------------------------------------------------------------------------
def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    n_iter: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    input_fingerprint: str | None = None,
) -> SuperstepResult:
    """Synchronous label propagation, exactly n_iter supersteps,
    deterministic: label(v) ← most frequent neighbour label, ties →
    smallest label; isolated vertices keep their own. Labels init to id.
    (Async LP is order-dependent — synchronous + min-tiebreak is the
    reproducible semantic our oracle and tests pin down.)
    """
    with GraphContext(edges) as ctx:
        # a vertex's count for one label is at most its closure degree
        if ctx.max_deg >= LP_MAX_COUNT:
            raise ValueError(
                f"label_propagation: max degree {ctx.max_deg} overflows the "
                f"packed argmax key (counts must stay below {LP_MAX_COUNT})"
            )
        ids = ctx.deg if vertices is None else ctx.cache(vertices.select("id"))
        gather = _split_gather(
            ctx.und, ctx.deg, "deg", ctx.n_und, ctx.max_deg, ctx.cache
        )

        def init() -> DataFrame:
            return ids.select("id", F.col("id").alias("label"))

        def step(state: DataFrame, _k: int) -> DataFrame:
            src_state = state.select(F.col("id").alias("src"), "label")
            cnt = (
                gather(src_state)
                .select(F.col("dst").alias("id"), "label")
                .groupBy("id", "label")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # argmax by (count, smallest label) as ONE decimal key,
            # n·2⁶⁴ + (2⁶³−1−label): a max over a decimal is a hash
            # aggregation (a struct max plans a sort), and any signed
            # label maps into the low 64 bits in reverse order
            key = F.col("n").cast(_DEC) * _dec(1 << 64) + (
                _dec((1 << 63) - 1) - F.col("label").cast(_DEC)
            )
            best = cnt.groupBy("id").agg(F.max(key).alias("_k")).select(
                "id",
                (_dec((1 << 63) - 1) - F.col("_k") % _dec(1 << 64))
                .cast("long")
                .alias("newlabel"),
            )
            # the state side shuffles on id here as well (see pagerank)
            return state.join(best.hint("shuffle_hash"), "id", "left").select(
                "id", F.coalesce("newlabel", "label").alias("label")
            )

        driver = SuperstepDriver(
            spark, "lp", checkpoint_dir, max_iter=n_iter, tol=None,
            input_fingerprint=input_fingerprint,
        )
        return driver.run(init, step, resume=resume)
