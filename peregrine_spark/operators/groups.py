"""Generalized order-group counting — the full B5/D2-D4 machinery
(reference core/Graph.hh:1270-1543 sibling/order groups,
core/PatternMatching.hh:1741-1857 candidate-size / binomial /
inclusion-exclusion counting) as DataFrame algebra.

The plan (SmallGraph.group_count_plan) splits the pattern into a minimum
connected vertex cover CORE and sibling GROUPS of non-core vertices with
identical neighbour sets. Only the core is ever enumerated — as ordered
injective assignments with NO symmetry conditions; each group of size t
is counted from candidate-set sizes, inter-group distinctness is repaired
by inclusion–exclusion over the Venn atoms of the groups' candidate sets,
and the global total is divided by |Aut| (unbroken counting — the exact
trick the DuckDB join-chain oracles use, so bounds never arise).

Candidate-set sizes per core row come from three mechanisms, chosen by
the size of the group subset's combined neighbour set NU:

- |NU| = 1 → a degree-table join (+ membership corrections for matched
  core vertices: a constant 1 when pattern-adjacent, else a data-edge
  hit flag);
- |NU| = 2 → a codegree-table join (built once, Σ deg² rows — broadcast
  when the wedge count is small enough, a shuffle join otherwise);
- |NU| ≥ 3 → a bounded fan-out: candidates enumerated from the core rows
  (Σ-codeg-bounded via the first two adjacency joins), counted per core
  tuple and joined back.

Every per-row product runs in guarded decimal(38,0) (arith.falling_exact
raises on overflow instead of NULL-summing). The join shapes keep the big
flow in ONE whole-stage-codegen pipeline: degree/codegree sides are
dimension tables (AQE or explicit broadcast), the core join chain never
shuffles its output before the final partial aggregation.
"""

from __future__ import annotations

import contextlib
import itertools
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peregrine_spark.operators.arith import falling_exact
from peregrine_spark.operators.graph import GraphContext, adjacency
from peregrine_spark.plans.patterns import SmallGraph
from peregrine_spark.session import local_frame

_DEC = "decimal(38,0)"

# bench.py, unchanged across rounds for comparability, imports this name
# and calls .unpersist() on it
GroupCountContext = GraphContext


def _vcol(p: int) -> str:
    return f"v{p}"


def plan_profitable(plan: tuple, t_tail: int = 0) -> bool:
    """Auto policy (the single source of truth — match_pattern routes
    through this): group counting beats both the symmetry-broken tail
    and plain enumeration when
    - there are multiple sibling groups (the tail path handles exactly
      ONE trailing group);
    - one group of ≥ 2 vertices the tail could not fully absorb
      (t_tail < group size — condition-shape mismatch);
    - a lone non-core vertex with a TWO-vertex neighbour set over a core
      of ≥ 3 (cycles): the codegree join replaces a ×deg final-level
      fan-out."""
    core, groups = plan
    noncore_n = sum(len(m) for m, _ in groups)
    return (
        len(groups) >= 2
        or (len(groups) == 1 and noncore_n >= 2 and t_tail < noncore_n)
        or (noncore_n == 1 and len(groups[0][1]) == 2 and len(core) >= 3)
    )


def _collapsed_partition_terms(
    t: list[int] | tuple[int, ...],
) -> dict[tuple[tuple[int, ...], ...], int]:
    """Set-partition inclusion–exclusion collapsed over interchangeable
    slots: {sorted multiset of block SUPPORTS (tuples of group indices)
    → summed integer coefficient}. A block taking b_g slots from group g
    contributes weight (−1)^(Σb−1)(Σb−1)! and reads the count column of
    ∪_{b_g>0} N_g; the multiplicity of a block-type multiset among
    labeled partitions is the multinomial
        Π_g t_g! / (Π_types (Π_g b_g!)^mult · mult!).
    Validated term-for-term against the labeled expansion for every
    group shape with Σt ≤ 7 (tests/test_patterns.py)."""
    t = tuple(t)
    cached = _COLLAPSED_CACHE.get(t)
    if cached is not None:
        return cached
    m = len(t)
    vecs = sorted(
        (v for v in itertools.product(*[range(x + 1) for x in t]) if any(v)),
        reverse=True,
    )
    out: dict[tuple[tuple[int, ...], ...], int] = {}

    def rec(i: int, remaining: tuple[int, ...], chosen) -> None:
        if not any(remaining):
            M = math.prod(math.factorial(tg) for tg in t)
            denom = 1
            coeff_w = 1
            supp_ms: list[tuple[int, ...]] = []
            for beta, mult in chosen:
                for b in beta:
                    denom *= math.factorial(b) ** mult
                denom *= math.factorial(mult)
                sb = sum(beta)
                coeff_w *= ((-1) ** (sb - 1) * math.factorial(sb - 1)) ** mult
                supp_ms += [tuple(g for g in range(m) if beta[g])] * mult
            key = tuple(sorted(supp_ms))
            out[key] = out.get(key, 0) + (M // denom) * coeff_w
            return
        if i >= len(vecs):
            return
        beta = vecs[i]
        nz = [g for g in range(m) if beta[g]]
        maxmult = min(remaining[g] // beta[g] for g in nz)
        for mult in range(maxmult, -1, -1):
            rem2 = tuple(remaining[g] - mult * beta[g] for g in range(m))
            rec(i + 1, rem2, chosen + ([(beta, mult)] if mult else []))

    rec(0, t, [])
    out = {k: v for k, v in out.items() if v}
    _COLLAPSED_CACHE[t] = out
    return out


_COLLAPSED_CACHE: dict[tuple[int, ...], dict] = {}


class _ShapeFlow:
    """Shared per-core-shape counting flow: ONE core enumeration; every
    pattern on the shape REGISTERS its groups (deduped candidate-count
    columns, correction flags, a row-value expression); _agg_plan() then
    builds the whole flow once — all |NU| ≥ 3 fan-out counts fused into
    a SINGLE tagged shuffle, degree/codegree/edge-membership lookups as
    broadcast dimensions when small — and runs one aggregation for every
    registered pattern."""

    def __init__(self, ctx: GraphContext, core: list[int], sub: SmallGraph):
        self.ctx = ctx
        self.core = core  # representative core matching order
        self.sub = sub  # core-induced subgraph (same for every member)
        self.core_cols = [_vcol(p) for p in core]
        und = ctx.und
        if len(core) == 1:
            core_df = und.select(F.col("src").alias(self.core_cols[0])).distinct()
        else:
            c0, c1 = core[0], core[1]
            core_df = und.select(
                F.col("src").alias(_vcol(c0)), F.col("dst").alias(_vcol(c1))
            )
            for i in range(2, len(core)):
                p = core[i]
                nbrs = [q for q in core[:i] if q in sub.neighbours(p)]
                seed, rest = nbrs[0], nbrs[1:]
                core_df = core_df.join(
                    und.select(
                        F.col("src").alias(_vcol(seed)), F.col("dst").alias(_vcol(p))
                    ),
                    _vcol(seed),
                )
                for q in rest:
                    core_df = core_df.join(
                        und.select(
                            F.col("src").alias(_vcol(q)), F.col("dst").alias(_vcol(p))
                        ),
                        [_vcol(q), _vcol(p)],
                        "left_semi",
                    )
                for q in core[:i]:
                    if q not in nbrs:
                        core_df = core_df.filter(F.col(_vcol(q)) != F.col(_vcol(p)))
        self.core_df = core_df
        # registration state (no DataFrame work until _agg_plan())
        self.raw_of: dict[frozenset, str] = {}
        self.flag_of: dict[tuple[int, int], str] = {}
        self.members: list[tuple[str, list[tuple[list[int], frozenset]]]] = []

    def _register_count(self, nu: frozenset) -> None:
        if nu in self.raw_of:
            return
        self.raw_of[nu] = f"_n{len(self.raw_of)}"
        if len(nu) <= 2:
            # correction flags for matched members not pattern-adjacent
            # to all of NU (pattern adjacency within the core == the
            # shape subgraph, identical for every member pattern);
            # fan-out counts exclude matched vertices inline instead
            for p in self.core:
                if p in nu:
                    continue
                for q in nu:
                    key = (min(q, p), max(q, p))
                    if not self.sub.has_edge(p, q) and key not in self.flag_of:
                        self.flag_of[key] = f"_f{key[0]}_{key[1]}"

    def add_pattern(self, name: str, groups: list[tuple[list[int], frozenset]]) -> None:
        """Register one pattern's groups (N-sets already remapped onto
        the representative core ids)."""
        m = len(groups)
        for r in range(1, m + 1):
            for J in itertools.combinations(range(m), r):
                self._register_count(
                    frozenset().union(*[groups[g][1] for g in J])
                )
        self.members.append((name, groups))

    # ---- build phase -----------------------------------------------------
    def _corrected(self, nu: frozenset) -> Column:
        """|C_nu minus matched core vertices| as a long column."""
        n = F.coalesce(F.col(self.raw_of[nu]), F.lit(0)).cast("long")
        if len(nu) > 2:  # fan-out already excludes matched vertices
            return n
        for p in self.core:
            if p in nu:
                continue
            ind: Column | None = None  # 0/1: m_p adjacent to all of m(nu)
            for q in nu:
                if self.sub.has_edge(p, q):
                    continue  # guaranteed by the match
                hit = F.coalesce(
                    F.col(self.flag_of[(min(q, p), max(q, p))]), F.lit(0)
                )
                ind = hit if ind is None else ind * hit
            n = n - (F.lit(1) if ind is None else ind)
        return n

    def _rowval(self, groups, use_long: bool) -> tuple[Column, int]:
        """Per-core-row count of ORDERED injective group fills: expand the
        groups into Σt individual slots (slot of group g draws from g's
        candidate set) and apply inclusion–exclusion over SET PARTITIONS
        of the slots,

            N_inj = Σ_P Π_{B∈P} (−1)^{|B|−1} (|B|−1)! · n(∪_{g∈B} N_g),

        where n(·) is the corrected candidate count for the union of the
        block's groups' neighbour sets (a block's slots collide onto one
        vertex, which must lie in the intersection of their candidate
        sets = adjacent to the union of their N-sets — columns already
        registered for every group subset).

        Slots within one group are INTERCHANGEABLE, so labeled set
        partitions collapse by block-TYPE multiset (how many slots of
        each group a block takes): the coefficient of a type multiset is
        the multinomial count of labeled partitions realizing it times
        the signed block weights. Term counts: (8,) → 8 (the falling-
        factorial expansion), (1,6) → 12, (1,3,3) → 71, (2,2,3) → 111 —
        vs Bell(7) = 877 / Bell(8) = 4,140 labeled partitions, whose
        Column trees took Catalyst minutes per k=9 pattern (round-5
        profile). Validated term-for-term against the labeled expansion
        for every Σt ≤ 7 group shape.

        No division anywhere: coefficients are integers, and the ordered
        count = unordered × Π t_g!, so the returned scale L = Π t_g!
        cancels the caller's ordered-pick multiplier exactly (out =
        tot × mult // (aut × L))."""
        m = len(groups)
        t = [len(g[0]) for g in groups]
        subsets = [
            frozenset(J)
            for r in range(1, m + 1)
            for J in itertools.combinations(range(m), r)
        ]
        nu_of = {J: frozenset().union(*[groups[g][1] for g in J]) for J in subsets}
        n_expr = {nu: self._corrected(nu) for nu in set(nu_of.values())}
        s = sum(t)
        L = math.prod(math.factorial(tg) for tg in t)

        # decimal-mode per-factor guard: a row value is a sum of terms,
        # each ≤ (count budget)^Σt × |coeff|, with total coefficient mass
        # Σ_P Π_B (|B|−1)! = (Σt)! — fold that mass into the budget so
        # the per-ROW balanced sum provably fits decimal(38,0) too
        # (round-5 advice: a 10^(36/Σt) per-factor guard alone let
        # Σt ≥ 6 rows near the bound silently NULL under non-ANSI)
        st_all = max(1, s)
        dec_lim = int((10**36 / math.factorial(st_all)) ** (1 / st_all))

        def count_col(groupset: frozenset) -> Column:
            n = n_expr[nu_of[groupset]]
            if use_long:
                return n
            # guarded identity cast: falling_exact(n, 1) = n with the
            # loud decimal overflow guard
            return falling_exact(n, 1, limit=dec_lim)

        terms: list[tuple[int, Column]] = []
        for supports, coeff in _collapsed_partition_terms(t).items():
            cols = [count_col(frozenset(supp)) for supp in supports]
            term: Column | None = None
            for c in cols:
                term = c if term is None else term * c
                if not use_long:
                    term = term.cast(_DEC)
            if term is None:
                term = F.lit(1).cast("long") if use_long else F.lit(1).cast(_DEC)
            if coeff != 1:
                term = term * F.lit(coeff)
                if not use_long:
                    term = term.cast(_DEC)
            terms.append((coeff, term))
        # balanced sum keeps the Catalyst tree depth logarithmic
        exprs = [tm for _, tm in terms]
        while len(exprs) > 1:
            nxt = [
                exprs[i] + exprs[i + 1] if i + 1 < len(exprs) else exprs[i]
                for i in range(0, len(exprs), 2)
            ]
            exprs = nxt
        return exprs[0], L

    def _build_flow(self) -> DataFrame:
        ctx, und = self.ctx, self.ctx.und
        flow = self.core_df
        if ctx.array_mode():
            # attach each referenced core vertex's adjacency run ONCE
            # via a broadcast join; every candidate count and membership
            # flag is then a map-side array expression — the whole flow
            # is one codegen pipeline into the final aggregation
            # cached: every attached vertex builds a broadcast from it
            adjt = ctx.cache(adjacency(und))
            needed = sorted(
                {q for nu in self.raw_of for q in nu}
                | {a for (a, _) in self.flag_of}
            )
            for q in needed:
                flow = flow.join(
                    F.broadcast(
                        adjt.select(
                            F.col("id").alias(_vcol(q)),
                            F.col("adj").alias(f"_adj{q}"),
                        )
                    ),
                    _vcol(q),
                )
            for nu, cname in self.raw_of.items():
                qlist = sorted(nu)
                arr = F.col(f"_adj{qlist[0]}")
                for q in qlist[1:]:
                    arr = F.array_intersect(arr, F.col(f"_adj{q}"))
                if len(nu) >= 3:
                    # fan-out counts exclude matched non-NU core
                    # vertices inline (the ≤ 2 cases subtract via
                    # _corrected's flag logic instead)
                    others = [p for p in self.core if p not in nu]
                    for p in others:
                        arr = F.array_remove(arr, F.col(_vcol(p)))
                flow = flow.withColumn(cname, F.size(arr))
            for (a, b), name in self.flag_of.items():
                flow = flow.withColumn(
                    name,
                    F.array_contains(F.col(f"_adj{a}"), F.col(_vcol(b)))
                    .cast("long"),
                )
            return flow
        fan_nus = sorted(
            (nu for nu in self.raw_of if len(nu) >= 3), key=sorted
        )
        if fan_nus:
            core_cached = ctx.cache(self.core_df)
            flow = core_cached
            # ALL fan-out candidate counts in ONE tagged union -> ONE
            # groupBy shuffle -> ONE join back (a per-NU join chain would
            # shuffle the whole flow once per NU)
            exts = []
            for tag, nu in enumerate(fan_nus):
                qlist = sorted(nu)
                pair_w = (
                    und.select(
                        F.col("dst").alias(_vcol(qlist[0])), F.col("src").alias("_w")
                    )
                    .join(
                        und.select(
                            F.col("dst").alias(_vcol(qlist[1])), F.col("src").alias("_w")
                        ),
                        "_w",
                    )
                    .filter(F.col(_vcol(qlist[0])) != F.col(_vcol(qlist[1])))
                )
                ext = core_cached.join(pair_w, [_vcol(qlist[0]), _vcol(qlist[1])])
                for q in qlist[2:]:
                    ext = ext.join(
                        und.select(
                            F.col("src").alias(_vcol(q)), F.col("dst").alias("_w")
                        ),
                        [_vcol(q), "_w"],
                        "left_semi",
                    )
                for p in self.core:
                    if p not in nu:
                        ext = ext.filter(F.col("_w") != F.col(_vcol(p)))
                exts.append(
                    ext.select(*self.core_cols, F.lit(tag).alias("_tag"))
                )
            from functools import reduce

            tagged = reduce(DataFrame.unionByName, exts)
            counts = tagged.groupBy(*self.core_cols).agg(
                *[
                    F.sum((F.col("_tag") == tag).cast("long")).alias(
                        self.raw_of[nu]
                    )
                    for tag, nu in enumerate(fan_nus)
                ]
            )
            flow = flow.join(counts, self.core_cols, "left")
        for nu in self.raw_of:
            qlist = sorted(nu)
            if len(nu) == 1:
                dt = ctx.deg_table().select(
                    F.col("id").alias(_vcol(qlist[0])),
                    F.col("deg").alias(self.raw_of[nu]),
                )
                flow = flow.join(dt, _vcol(qlist[0]))
            elif len(nu) == 2:
                cd = ctx.codeg_table().select(
                    F.col("_x").alias(_vcol(qlist[0])),
                    F.col("_y").alias(_vcol(qlist[1])),
                    F.col("_codeg").alias(self.raw_of[nu]),
                )
                flow = flow.join(
                    cd, [_vcol(qlist[0]), _vcol(qlist[1])], "left"
                )
        for (a, b), name in self.flag_of.items():
            ft = ctx.und_dim().select(
                F.col("src").alias(_vcol(a)),
                F.col("dst").alias(_vcol(b)),
                F.lit(1).alias(name),
            )
            flow = flow.join(ft, [_vcol(a), _vcol(b)], "left")
        return flow

    def _use_long(self) -> bool:
        """Safe to run the per-row polynomial in 64-bit integers? Bound
        every intermediate by Σ_P |coeff_P| × max_deg^(Σt): candidate
        counts never exceed the max degree, and the EXACT total
        coefficient mass of the set-partition sum is
        Σ_P Π_B (|B|−1)! = (Σt)! (each permutation's cycle structure is
        one partition-with-cyclic-orders) — exact, so high-Σt patterns
        stay on the fast 64-bit path whenever the degree bound allows."""
        md = max(self.ctx.max_deg, 2)
        worst = 0
        for _, groups in self.members:
            st = sum(len(mm) for mm, _ in groups)
            worst = max(worst, math.factorial(st) * md**st)
        return worst < 1 << 61

    def _agg_plan(self) -> tuple[DataFrame, list[str], dict[str, int]]:
        """(1-row aggregated DataFrame, member names in column order,
        {name: L scale}) — the lazy single-aggregation plan over this
        shape's flow."""
        use_long = self._use_long()
        flow = self._build_flow()
        rowvals = []
        scales = {}
        for name, groups in self.members:
            rv, L = self._rowval(groups, use_long)
            rowvals.append((name, rv))
            scales[name] = L
        named = flow.select(
            *[rv.alias(f"_r{i}") for i, (_, rv) in enumerate(rowvals)]
        )
        aggs = [
            F.coalesce(
                F.sum(F.col(f"_r{i}").cast(_DEC)), F.lit(0).cast(_DEC)
            ).alias(f"_r{i}")
            for i in range(len(rowvals))
        ]
        return named.agg(*aggs), [n for n, _ in rowvals], scales


def _totals_many(shapes: dict[str, "_ShapeFlow"]) -> dict[str, object]:
    """Totals for SEVERAL shape flows in ONE Spark action: each shape's
    single-row aggregation is collapsed to an array<decimal> column and
    the 1-row plans unioned — the scheduler then runs every shape's
    stages CONCURRENTLY (guide §2.6: independent jobs back-fill each
    other's stragglers; sequential per-shape actions left most of the
    32 cores idle between tiny stages)."""
    from functools import reduce

    per_shape = []
    metas = []
    for si, sf in enumerate(shapes.values()):
        aggd, names, scales = sf._agg_plan()
        per_shape.append(
            aggd.select(
                F.lit(si).alias("_si"),
                F.array(
                    *[F.col(f"_r{i}") for i in range(len(names))]
                ).alias("_vals"),
            )
        )
        metas.append((names, scales))
    rows = {
        r["_si"]: r["_vals"]
        for r in reduce(DataFrame.unionByName, per_shape).collect()
    }
    out: dict[str, object] = {}
    for si, (names, scales) in enumerate(metas):
        vals = rows[si]
        for i, name in enumerate(names):
            out[name] = (vals[i], scales[name])
    return out


def _core_shape_map(
    core: list[int], sub: SmallGraph, rep_core: list[int], rep_sub: SmallGraph
) -> dict[int, int] | None:
    """Isomorphism core → rep_core preserving the core-induced edges."""
    for perm in itertools.permutations(rep_core):
        f = dict(zip(core, perm))
        if all(
            rep_sub.has_edge(f[a], f[b]) == sub.has_edge(a, b)
            for i, a in enumerate(core)
            for b in core[i + 1 :]
        ):
            return f
    return None


def _core_subgraph(pattern: SmallGraph, core: list[int]) -> SmallGraph:
    return SmallGraph(
        edges=[(a, b) for a, b in pattern.edges if a in core and b in core]
    )


def group_count_many(
    edges: DataFrame,
    patterns: dict[str, SmallGraph],
    ctx: GraphContext | None = None,
) -> dict[str, int]:
    """Fused group counting for a catalog: patterns sharing a core shape
    share ONE enumerated core flow and deduped count columns — the whole
    21-class k=5 catalog runs as ~5 aggregations instead of 21 join
    chains (k=6: ~11 instead of 112). Returns {name: count}."""
    shapes: dict[str, _ShapeFlow] = {}
    meta: dict[str, tuple[str, int, int]] = {}  # name -> (shape key, mult, aut)
    with _scope(edges, ctx) as ctx:
        for name, g in patterns.items():
            plan = g.group_count_plan()
            if plan is None:
                raise ValueError(f"{name}: no group-count plan")
            core, groups = plan
            sub = _core_subgraph(g, core)
            key = sub.canonical_form()
            if key not in shapes:
                shapes[key] = _ShapeFlow(ctx, core, sub)
                f = {p: p for p in core}
            else:
                f = _core_shape_map(core, sub, shapes[key].core, shapes[key].sub)
                assert f is not None, (name, core)
            mapped = [
                (members, frozenset(f[q] for q in nset)) for members, nset in groups
            ]
            shapes[key].add_pattern(name, mapped)
            mult = math.prod(math.factorial(len(members)) for members, _ in groups)
            meta[name] = (key, mult, g.aut_order_regular())
        totals = _totals_many(shapes)
    out: dict[str, int] = {}
    for name, (tot, L) in totals.items():
        _, mult, aut = meta[name]
        out[name] = int(tot) * mult // (aut * L)
    return out


def _scope(edges: DataFrame, ctx: GraphContext | None):
    """The caller's context, or a new one released on exit."""
    return contextlib.nullcontext(ctx) if ctx is not None else GraphContext(edges)


def group_count(
    edges: DataFrame,
    pattern: SmallGraph,
    ctx: GraphContext | None = None,
) -> DataFrame:
    """Count occurrences of an unlabelled anti-free `pattern` via core
    enumeration + group counting: group_count_many over the one pattern.
    Single row (n_matches,). EAGER: the one aggregation runs here, the
    ordered-pick / |Aut| / lcm division happens in exact driver-side
    Python ints (a Spark decimal division would be typed decimal(38,6),
    capping the total at ~10^32), and a context it opened itself is
    released before returning — the result is a 1-row local DataFrame."""
    n = group_count_many(edges, {"p": pattern}, ctx)["p"]
    return local_frame(edges.sparkSession, [(n,)], "n_matches long")
