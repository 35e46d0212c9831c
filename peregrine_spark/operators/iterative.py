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
AQE skew-join handles the state×edges side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from peregrine_spark.operators import skew
from peregrine_spark.operators.graph import GraphContext
from peregrine_spark.operators.skew import hub_presplit, presplit_join
from peregrine_spark.plans.superstep import SuperstepDriver, SuperstepResult

# label propagation's argmax key n·2⁶⁴ + (2⁶³−1−label) stays below 10³⁸,
# the decimal(38,0) bound, while every count n is below this
LP_MAX_COUNT = 1 << 62
_DEC = "decimal(38,0)"


def _dec(v: int) -> Column:
    """An exact decimal(38,0) literal (a Python int above 2⁶³ is none)."""
    return F.lit(str(v)).cast(_DEC)


def _gather_sides(
    edges: DataFrame, hubs: list[int], chained: bool, cache
) -> tuple[DataFrame, DataFrame | None]:
    """The static edge side of every superstep's gather join, pre-split
    by the gather key ONCE: the cached hash partitioning matches the
    per-superstep join requirement, so only the (|V|-sized) state side
    shuffles each superstep. Hub edges go to their own ROUND-ROBIN cache
    (see hub_presplit). Chained supersteps (checkpoint_interval > 1) get
    one plain partitioning instead: the hub split references the state
    twice per superstep, so the unmaterialized plan tree would grow 2^k;
    their unhinted gather join leaves hubs to AQE's skew-join splitting.
    `cache` caches a frame until the caller releases it."""
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if chained:
        return cache(edges.repartition(n_part, "src")), None
    rest, hub = hub_presplit(edges, "src", hubs, n_part)
    return cache(rest), (cache(hub) if hub is not None else None)


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
    checkpoint_interval: int = 1,
    input_fingerprint: str | None = None,
) -> SuperstepResult:
    """Directed PageRank with uniform dangling redistribution; converges
    when max|Δrank| < tol. State schema: (id, rank, out_deg).

    r_{t+1} = (1-d)/N + d * (Σ_in r_t/outdeg + dangling_mass/N)

    Hub sources join a broadcast slice of the state when each superstep
    materializes; chained supersteps (checkpoint_interval > 1 on a
    dangling-free graph) leave hubs to AQE (see _gather_sides).
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
    vstatic = vstatic.cache()
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
    # Dangling vertices can't appear in an undirected closure. The
    # dangling mass is a per-superstep scalar, so only dangling-free
    # graphs can chain supersteps without materialization.
    has_dangling = int(srow["n_dangling"]) > 0
    interval = 1 if has_dangling else checkpoint_interval
    chained = interval > 1
    # Hub detection (once, static): sources whose edge multiplicity would
    # pin the gather join on a single task take the broadcast path.
    # src multiplicity in `edges` IS out_deg, so the hub keys come from a
    # scan of the cached vstatic — no extra full-edge groupBy job.
    hubs = [] if chained else skew.hub_keys(
        vstatic, "id", "out_deg",
        skew.auto_hub_threshold(int(srow["n_e"])), int(srow["max_deg"]),
    )
    e_rest, e_hub = _gather_sides(edges, hubs, chained, DataFrame.cache)

    # each rank's share of the dangling mass (0 on a dangling-free graph)
    dangling_rank = F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)
    # the dangling mass of the state the next step reads: observed while
    # the previous state materialized, known without a job for the initial
    # state, and aggregated over a resumed state once
    dm_cell = {"dm": None if has_dangling else 0.0}

    def init() -> DataFrame:
        dm_cell["dm"] = int(srow["n_dangling"]) / n  # every rank is 1/n
        return vstatic.select("id", F.lit(1.0 / n).alias("rank"), "out_deg")

    def step(state: DataFrame, _k: int) -> DataFrame:
        if dm_cell["dm"] is None:
            dm_cell["dm"] = state.agg(F.sum(dangling_rank)).first()[0] or 0.0
        dm = dm_cell["dm"]
        # Gather: hub sources join a broadcast slice of the state (their
        # millions of edge rows never shuffle); the rest shuffle-hash —
        # a per-superstep broadcast of the FULL state would be rebuilt
        # driver-side each time (measured 20-40% of superstep wall).
        src_state = state.filter(F.col("out_deg") > 0).select(
            F.col("id").alias("src"),
            (F.col("rank") / F.col("out_deg")).alias("w"),
        )
        gathered = (
            e_rest.join(src_state, "src")
            if chained
            else presplit_join(e_rest, e_hub, src_state, "src", hubs)
        )
        contrib = (
            gathered.select(F.col("dst").alias("id"), "w")
            .groupBy("id")
            .agg(F.sum("w").alias("c"))
        )
        base = (1.0 - damping) / n + damping * dm / n
        new_rank = F.lit(base) + F.lit(damping) * F.coalesce("c", F.lit(0.0))
        # join the STATE (carries the old rank, for the delta) rather than
        # vstatic. The rank at the last materialized state rides through a
        # chained interval as _r0, so the observed delta is max|r_k − r_b|
        # on every path. The executed plan shuffles the materialized
        # state on id before this join — the scan of a checkpointed state
        # reports no partitioning — and the gather above shuffles it again
        # on src: two |V|-row exchanges of the state per superstep
        r0 = "_r0" if "_r0" in state.columns else "rank"
        return state.join(contrib.hint("shuffle_hash"), "id", "left").select(
            "id", new_rank.alias("rank"), "out_deg", F.col(r0).alias("_r0")
        )

    def delta(seen: dict) -> float:
        dm_cell["dm"] = seen["dm"] or 0.0
        return seen["delta"]

    driver = SuperstepDriver(
        spark, "pagerank", checkpoint_dir, max_iter=max_iter, tol=tol,
        materialize_every=interval, input_fingerprint=input_fingerprint,
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
    for df in [vstatic, e_rest] + ([e_hub] if e_hub is not None else []):
        df.unpersist()
    return res


def _closure_sides(
    ctx: GraphContext, vertices: DataFrame | None, chained: bool
) -> tuple[DataFrame, list[int], DataFrame, DataFrame | None]:
    """The static side of CC and LP over the context's cached closure:
    (vertex ids, hub keys, rest edges, hub edges), all released with the
    context. The degree table is the vertex set unless the caller passes
    one (isolated vertices); its max degree rules the hub collect job out
    on hub-free graphs."""
    if vertices is None:
        vstatic = ctx.deg.select("id")
    else:
        vstatic = ctx.cache(vertices.select("id"))
    hubs = [] if chained else ctx.closure_hubs()
    u_rest, u_hub = _gather_sides(ctx.und, hubs, chained, ctx.cache)
    return vstatic, hubs, u_rest, u_hub


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
    checkpoint_interval: int = 1,
    input_fingerprint: str | None = None,
) -> SuperstepResult:
    """Hash-min components: comp(v) = min vertex id reachable; synchronous
    min-propagation to fixpoint. State: (id, comp) — exact integers.

    Converges in O(diameter) supersteps. (Large-diameter graphs would want
    the large-/small-star pointer-doubling variant; link graphs are
    small-diameter so hash-min's strictly-bounded shuffle wins.)
    """
    chained = checkpoint_interval > 1
    with GraphContext(edges) as ctx:
        vstatic, hubs, u_rest, u_hub = _closure_sides(ctx, vertices, chained)

        def init() -> DataFrame:
            return vstatic.select("id", F.col("id").alias("comp"))

        def step(state: DataFrame, _k: int) -> DataFrame:
            src_state = state.select(F.col("id").alias("src"), "comp")
            gathered = (
                u_rest.join(src_state, "src")
                if chained
                else presplit_join(u_rest, u_hub, src_state, "src", hubs)
            )
            msgs = (
                gathered.select(F.col("dst").alias("id"), "comp")
                .groupBy("id")
                .agg(F.min("comp").alias("mincomp"))
            )
            new_comp = F.least("comp", F.coalesce("mincomp", "comp"))
            # the component at the last materialized state rides through a
            # chained interval as _c0: the delta counts the vertices that
            # changed since then. The state side shuffles on id here as
            # well (see pagerank)
            c0 = "_c0" if "_c0" in state.columns else "comp"
            return state.join(msgs.hint("shuffle_hash"), "id", "left").select(
                "id", new_comp.alias("comp"), F.col(c0).alias("_c0")
            )

        driver = SuperstepDriver(
            spark, "cc", checkpoint_dir, max_iter=max_iter, tol=0.5,
            materialize_every=checkpoint_interval,
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
    checkpoint_interval: int = 1,
    input_fingerprint: str | None = None,
) -> SuperstepResult:
    """Synchronous label propagation, exactly n_iter supersteps,
    deterministic: label(v) ← most frequent neighbour label, ties →
    smallest label; isolated vertices keep their own. Labels init to id.
    (Async LP is order-dependent — synchronous + min-tiebreak is the
    reproducible semantic our oracle and tests pin down.)
    """
    chained = checkpoint_interval > 1
    with GraphContext(edges) as ctx:
        # a vertex's count for one label is at most its closure degree
        if ctx.max_deg >= LP_MAX_COUNT:
            raise ValueError(
                f"label_propagation: max degree {ctx.max_deg} overflows the "
                f"packed argmax key (counts must stay below {LP_MAX_COUNT})"
            )
        vstatic, hubs, u_rest, u_hub = _closure_sides(ctx, vertices, chained)

        def init() -> DataFrame:
            return vstatic.select("id", F.col("id").alias("label"))

        def step(state: DataFrame, _k: int) -> DataFrame:
            src_state = state.select(F.col("id").alias("src"), "label")
            gathered = (
                u_rest.join(src_state, "src")
                if chained
                else presplit_join(u_rest, u_hub, src_state, "src", hubs)
            )
            cnt = (
                gathered.select(F.col("dst").alias("id"), "label")
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
            materialize_every=checkpoint_interval,
            input_fingerprint=input_fingerprint,
        )
        return driver.run(init, step, resume=resume)
