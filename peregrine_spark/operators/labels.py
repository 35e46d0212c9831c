"""Labelled-pattern operators: label discovery (reference C9,
/root/reference/core/PatternMatching.hh:1219-1284) and the FSM driver loop
(apps/fsm.cc:94-111): match → MNI support filter → extend → repeat.

The labelled star operators (2-/3-star discovery and MNI support) read
the adjacency from a `graph.GraphContext`, as the reference's matchers
read `labels[]` from the one `DataGraph` that holds the adjacency
(core/DataGraph.hh:89-98). Each builds the labelled closure and the
per-center label histogram over the context's closure, caches what its
plan reads more than once in the context, collects its dimension-sized
result and returns it as a local frame: the context releases the caches
on exit.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peregrine_spark.operators.graph import GraphContext, undirected
from peregrine_spark.operators.motifs import mni_support
from peregrine_spark.operators.patterns import match_pattern
from peregrine_spark.plans.generators import extend_by_edge
from peregrine_spark.plans.patterns import SmallGraph
from peregrine_spark.session import local_frame


def _label_dim(labels: DataFrame) -> Callable[[DataFrame], DataFrame]:
    """The hint for joins against a label-sized side: `F.broadcast` when
    Catalyst's size estimate of the label table is within the session's
    spark.sql.autoBroadcastJoinThreshold, else no hint (a shuffle join
    that AQE's skew-join splitting may fan out). The estimate is optimizer
    statistics — the file size of a parquet scan — so the check starts no
    Spark job. A table Catalyst cannot size (a createDataFrame over a
    Python list scans an RDD) gets no hint, as Spark's own planner would
    not broadcast it either."""
    jss = labels.sparkSession._jsparkSession
    limit = jss.sessionState().conf().autoBroadcastJoinThreshold()
    size = labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return F.broadcast if size <= limit else (lambda df: df)


def _leaf_label_hist(
    ctx: GraphContext, labels: DataFrame, dim: Callable[[DataFrame], DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """(hist, lv): the labelled closure lv(c, v, vl) over the context's
    closure and the per-center leaf-label histogram hist(c, ll, cnt) over
    it — Σ deg rows through ONE label join + ONE groupBy, never a
    C(deg, k) wedge fan-out. All star-shaped discovery/support tables
    derive from these by binomial arithmetic (the reference's order-group
    counting trick, D3, core/PatternMatching.hh:1788-1826, applied to
    label multiplicities). The hist groupBy is map-side combinable, so
    even a mega-hub's Σ deg rows collapse before its one shuffle.

    Both come back uncached: each caller caches what its plan reads more
    than once — runtime exchange reuse does NOT dedupe the repeated
    subtrees (see discover_star_labels)."""
    ll = labels.select(F.col("id").alias("dst"), F.col("label").alias("vl"))
    lv = ctx.und.join(dim(ll), "dst").select(
        F.col("src").alias("c"), F.col("dst").alias("v"), "vl"
    )
    hist = lv.groupBy("c", F.col("vl").alias("ll")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return hist, lv


def _center_labelled(
    hist: DataFrame, labels: DataFrame, dim: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """hist + the center's own label (cl). Keyed on c: per-center row
    count is bounded by the number of distinct labels, so this join has
    no degree skew by construction."""
    lc = labels.select(F.col("id").alias("c"), F.col("label").alias("cl"))
    return hist.join(dim(lc), "c")


def _label_state(
    ctx: GraphContext, labels: DataFrame
) -> tuple[DataFrame, DataFrame, Callable[[DataFrame], DataFrame]]:
    """(lv, hc, dim) for the MNI star supports: the labelled closure and
    the center-labelled histogram, both cached in `ctx` (the first action
    over hc fills both). fsm fills them once for its two star threads."""
    dim = _label_dim(labels)
    hist, lv = _leaf_label_hist(ctx, labels, dim)
    lv = ctx.cache(lv)
    hc = ctx.cache(_center_labelled(hist, labels, dim))
    return lv, hc, dim


def discover_edge_labels(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(l1, l2, n) — frequency of each canonical (sorted) label pair over
    undirected edges. The single-edge DISCOVER_LABELS expansion."""
    canon = (
        edges.select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ls = labels.select(F.col("id").alias("src"), F.col("label").alias("_l1"))
    ld = labels.select(F.col("id").alias("dst"), F.col("label").alias("_l2"))
    return (
        canon.join(ls, "src")
        .join(ld, "dst")
        .groupBy(
            F.least("_l1", "_l2").alias("l1"), F.greatest("_l1", "_l2").alias("l2")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def discover_star_labels(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(center_label, l1, l2, n) for 2-stars with leaf labels in canonical
    (sorted) order — the reference's 2-star discovery with the PROCESS-
    macro label canonicalization (core/PatternMatching.hh:83-106).

    Never materializes a wedge: the Σ_v C(deg v, 2) star set collapses to
    the per-center label histogram (Σ deg rows) + binomial arithmetic —
    n = cnt(l1)·cnt(l2) for l1 < l2, C(cnt, 2) for l1 = l2. The histogram
    self-join is keyed on the center with ≤ |labels| rows per key, so the
    zipf mega-hub costs C(L, 2) rows instead of C(deg, 2) ≈ 10¹²."""
    with GraphContext(edges) as ctx:
        dim = _label_dim(labels)
        hist, _ = _leaf_label_hist(ctx, labels, dim)
        # the heavy chain (closure → label join → histogram groupBy) runs
        # exactly ONCE into the context's cache; runtime exchange reuse did
        # NOT dedupe the hist subtrees (measured 5 → 13 s)
        ctx.cache(hist).count()
        h1 = hist.select("c", F.col("ll").alias("l1"), F.col("cnt").alias("n1"))
        h2 = hist.select("c", F.col("ll").alias("l2"), F.col("cnt").alias("n2"))
        diff = (
            h1.join(h2, "c")
            .filter(F.col("l1") < F.col("l2"))
            .select("c", "l1", "l2", (F.col("n1") * F.col("n2")).alias("term"))
        )
        same = hist.filter(F.col("cnt") >= 2).select(
            "c",
            F.col("ll").alias("l1"),
            F.col("ll").alias("l2"),
            F.expr("cnt * (cnt - 1) DIV 2").alias("term"),
        )
        out = (
            _center_labelled(diff.unionByName(same), labels, dim)
            .groupBy(F.col("cl").alias("center_label"), "l1", "l2")
            .agg(F.sum("term").alias("n"))
        )
        rows = out.collect()
    return local_frame(edges.sparkSession, rows, out.schema)


def discover_star_labels_3(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(center_label, l1, l2, l3, n) for 3-stars with leaf labels in
    canonical (sorted) order — the reference's 3-star DISCOVER_LABELS
    expansion (core/PatternMatching.hh:1219-1284), which seeds 3-FSM.

    Never materializes a 3-star: the Σ_v C(deg v, 3) enumeration collapses
    to the per-center label histogram (Σ deg rows) + multiset-binomial
    arithmetic over sorted label triples —
        l1 < l2 < l3 : n1·n2·n3          l1 = l2 < l3 : C(n1, 2)·n3
        l1 < l2 = l3 : n1·C(n2, 2)       l1 = l2 = l3 : C(n1, 3)
    Histogram self-joins are keyed on the center with ≤ |labels| rows per
    key — the zipf mega-hub costs C(L+2, 3) rows instead of C(deg, 3)."""
    with GraphContext(edges) as ctx:
        dim = _label_dim(labels)
        hist, _ = _leaf_label_hist(ctx, labels, dim)
        # see discover_star_labels (here the triple expansion references
        # hist SIX times)
        ctx.cache(hist).count()
        h1 = hist.select("c", F.col("ll").alias("l1"), F.col("cnt").alias("n1"))
        h2 = hist.select("c", F.col("ll").alias("l2"), F.col("cnt").alias("n2"))
        h3 = hist.select("c", F.col("ll").alias("l3"), F.col("cnt").alias("n3"))
        distinct3 = (
            h1.join(h2, "c")
            .filter(F.col("l1") < F.col("l2"))
            .join(h3, "c")
            .filter(F.col("l2") < F.col("l3"))
            .select(
                "c", "l1", "l2", "l3",
                (F.col("n1") * F.col("n2") * F.col("n3")).alias("term"),
            )
        )
        # one ordered label pair (la < lb) serves both pair-position cases
        pair = h1.join(h3, "c").filter(F.col("l1") < F.col("l3"))
        pair_first = pair.filter(F.col("n1") >= 2).select(
            "c", "l1", F.col("l1").alias("l2"), "l3",
            (F.expr("n1 * (n1 - 1) DIV 2") * F.col("n3")).alias("term"),
        )
        pair_last = pair.filter(F.col("n3") >= 2).select(
            "c", "l1", F.col("l3").alias("l2"), "l3",
            (F.col("n1") * F.expr("n3 * (n3 - 1) DIV 2")).alias("term"),
        )
        triple = hist.filter(F.col("cnt") >= 3).select(
            "c",
            F.col("ll").alias("l1"), F.col("ll").alias("l2"), F.col("ll").alias("l3"),
            F.expr("cnt * (cnt - 1) * (cnt - 2) DIV 6").alias("term"),
        )
        terms = distinct3.unionByName(pair_first).unionByName(pair_last).unionByName(triple)
        out = (
            _center_labelled(terms, labels, dim)
            .groupBy(F.col("cl").alias("center_label"), "l1", "l2", "l3")
            .agg(F.sum("term").alias("n"))
        )
        rows = out.collect()
    return local_frame(edges.sparkSession, rows, out.schema)


def mni_edge_supports(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(l1, l2, support): exact MNI support of every labelled single-edge
    pattern (l1 ≤ l2) — the FSM seeding step (D11, apps/Domain.hh:6-95)
    fully distributed: support = min over automorphism orbits of the
    domain size. For l1 ≠ l2 the two endpoints are separate orbits
    (min of two countDistinct); for l1 = l2 they form ONE orbit whose
    domain is the union of both positions."""
    ls = labels.select(F.col("id").alias("src"), F.col("label").alias("_l1"))
    ld = labels.select(F.col("id").alias("dst"), F.col("label").alias("_l2"))
    occ = undirected(edges).join(ls, "src").join(ld, "dst")
    # one row per DIRECTED labelled occurrence; canonical pair (least, greatest)
    canon = occ.select(
        F.least("_l1", "_l2").alias("l1"),
        F.greatest("_l1", "_l2").alias("l2"),
        F.col("_l1").alias("la"),
        "src",
        "dst",
    )
    diff = (
        canon.filter(F.col("l1") != F.col("l2"))
        .groupBy("l1", "l2")
        .agg(
            F.count_distinct(
                F.when(F.col("la") == F.col("l1"), F.col("src"))
            ).alias("d1"),
            F.count_distinct(
                F.when(F.col("la") == F.col("l2"), F.col("src"))
            ).alias("d2"),
        )
        .select("l1", "l2", F.least("d1", "d2").alias("support"))
    )
    same = (
        canon.filter(F.col("l1") == F.col("l2"))
        .groupBy("l1", "l2")
        .agg(F.count_distinct("src").alias("support"))
    )
    return diff.unionByName(same)


def mni_star2_supports(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(center_label, l1, l2, support): exact MNI support of every
    labelled 2-star pattern (leaf labels sorted) — the FSM level-2 support
    table. Orbits: {center} always its own; the two leaves form ONE orbit
    iff l1 = l2 (domain = union of both positions), else two.

    Never materializes a wedge, and leaf domains never fan out over
    patterns (a naive (adjacency x patterns-per-center) join costs xL per
    adjacency row — ~1.2 B join rows on the 23 M-edge zipf input,
    measured as a 2 900 core-second stage). From the per-center label
    histogram:
      - center domains: one histogram self-join (≤ L rows per key);
      - leaf domains via a bitmask label-availability gather: per center,
        two masks (labels with cnt ≥ 1 / cnt ≥ 2), each stored as
        ⌈L/64⌉ long columns (one per 64-label CHUNK of the label space —
        label domains beyond 64 just widen the row, the plan shape is
        unchanged); ONE Σ deg-row join of the labelled closure against
        them; per leaf occurrence, the per-chunk mask
        of "other labels this center can supply" is
        (m1 & ~bit(vl)) | (m2 & bit(vl)) — the l1 = l2 merged orbit
        needs a SECOND same-label leaf, hence m2; bit_or-reduce to one
        mask row per (leaf, center_label) — map-side combinable, so even
        a mega-hub leaf's Σ deg rows collapse before the shuffle; then L
        conditional sums per (center_label, leaf_label) group yield every
        pattern's domain size in one pass. No join output exceeds its
        input: everything is bounded by Σ deg rows + |V|·L mask rows.
    The ≤ L³-row center table and the ≤ L²-row domain sums are collected
    and finished on the driver (the all-Spark tail was ~10 extra
    sub-second stages on ≤ 625-row data — stage latency, not work).
    """
    with GraphContext(edges) as ctx:
        # lv feeds both the histogram chain and the leaf gather, hc four
        # subtrees; fill both caches before the centers collect, whose
        # stage scans hc three times — over an unfilled cache, two of its
        # tasks can compute the same block
        lv, hc, dim = _label_state(ctx, labels)
        hc.count()
        h1 = hc.select("c", "cl", F.col("ll").alias("l1"))
        h2 = hc.select("c", F.col("ll").alias("l2"))
        qual_diff = (
            h1.join(h2, "c")
            .filter(F.col("l1") < F.col("l2"))
            .select("c", "cl", "l1", "l2")
        )
        qual_same = hc.filter(F.col("cnt") >= 2).select(
            "c", "cl", F.col("ll").alias("l1"), F.col("ll").alias("l2")
        )
        qual = qual_diff.unionByName(qual_same)  # (pattern, center), distinct
        centers = qual.groupBy("cl", "l1", "l2").agg(
            F.count(F.lit(1)).alias("_dc")
        )

        # the label table's distinct values are a SUPERSET of the leaf
        # labels actually occurring — extra labels only add zero-domain
        # rows that no center row looks up, and reading them from the
        # table avoids an extra full pass over the closure → lv → hist
        # chain
        lab_vals = sorted(
            r["label"] for r in labels.select("label").distinct().collect()
        )
        bit = {l: i for i, l in enumerate(lab_vals)}
        n_chunks = (len(lab_vals) + 63) // 64
        # label → (chunk index, bit-within-chunk value): labels beyond 64
        # land in further 64-bit mask columns — same gather, wider rows
        cmap = F.create_map(*[F.lit(x) for l in lab_vals for x in (l, bit[l] // 64)])

        def _sbit(k: int) -> int:
            """k-th bit as a SIGNED 64-bit literal (bit 63 = Long.MIN_VALUE
            — a plain 1 << 63 overflows the long literal)."""
            v = 1 << k
            return v - (1 << 64) if v >= 1 << 63 else v

        pmap = F.create_map(
            *[F.lit(x) for l in lab_vals for x in (l, _sbit(bit[l] % 64))]
        )

        def chunk_bit(label_col, ci: int):
            """Bit value of `label_col` inside chunk ci (0 when it lives in
            another chunk)."""
            return (
                F.when(
                    F.element_at(cmap, label_col) == ci, F.element_at(pmap, label_col)
                )
                .otherwise(0)
                .cast("long")
            )

        masks = hc.groupBy("c", "cl").agg(
            *[
                F.bit_or(chunk_bit(F.col("ll"), ci)).alias(f"m1_{ci}")
                for ci in range(n_chunks)
            ],
            *[
                F.bit_or(
                    F.when(F.col("cnt") >= 2, chunk_bit(F.col("ll"), ci))
                    .otherwise(F.lit(0).cast("long"))
                ).alias(f"m2_{ci}")
                for ci in range(n_chunks)
            ],
        )

        def avail(ci: int):
            vbit = chunk_bit(F.col("vl"), ci)
            return (F.col(f"m1_{ci}").bitwiseAND(F.bitwise_not(vbit))).bitwiseOR(
                F.col(f"m2_{ci}").bitwiseAND(vbit)
            )

        # masks is one narrow row per (center, center-label) — |V| rows of
        # 2·⌈L/64⌉ longs, label-table sized: under the label table's hint
        # the Σ deg-row gather join runs map-side (no shuffle of lv), and
        # the bit_or groupBy that follows is map-side combinable anyway
        vm = (
            lv.join(dim(masks), "c")
            .select(
                "v", "vl", "cl",
                *[avail(ci).alias(f"_av{ci}") for ci in range(n_chunks)],
            )
            .groupBy("v", "vl", "cl")
            .agg(*[F.bit_or(f"_av{ci}").alias(f"_m{ci}") for ci in range(n_chunks)])
        )
        sums = vm.groupBy("cl", F.col("vl").alias("_lp")).agg(
            *[
                F.sum(
                    (
                        F.col(f"_m{bit[lo] // 64}").bitwiseAND(
                            F.lit(_sbit(bit[lo] % 64))
                        )
                        != 0
                    ).cast("long")
                ).alias(f"_b{bit[lo]}")
                for lo in lab_vals
            ]
        )
        center_rows = centers.collect()
        dom = {
            (r["cl"], r["_lp"]): {lo: int(r[f"_b{bit[lo]}"]) for lo in lab_vals}
            for r in sums.collect()
        }
    out_rows = []
    for r in center_rows:
        cl, l1, l2, dc = r["cl"], r["l1"], r["l2"], int(r["_dc"])
        if l1 == l2:
            dl = dom[(cl, l1)][l1]
        else:
            dl = min(dom[(cl, l1)][l2], dom[(cl, l2)][l1])
        out_rows.append((cl, l1, l2, min(dc, dl)))
    lt = labels.schema["label"].dataType.simpleString()
    return local_frame(
        edges.sparkSession,
        out_rows,
        f"center_label {lt}, l1 {lt}, l2 {lt}, support long",
    )


def mni_triangle_supports(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(l1, l2, l3, support): exact MNI support of every labelled
    triangle pattern (labels sorted) — ONE distributed job for ALL
    labellings (the FSM level-3 vector aggregation, E6/D8). The
    triangle's label-preserving automorphisms act transitively on
    equal-label positions, so each orbit domain is exactly the distinct
    vertices carrying that label across matching triangles — min over
    the ≤ 3 label slots."""
    from peregrine_spark.operators.triangles import triangles

    def lab(col: str, name: str) -> DataFrame:
        return labels.select(F.col("id").alias(col), F.col("label").alias(name))

    t = (
        triangles(edges)
        .join(lab("u", "lu"), "u")
        .join(lab("v", "lv"), "v")
        .join(lab("w", "lw"), "w")
    )
    ls = F.array_sort(F.array("lu", "lv", "lw"))
    pos = t.select(
        ls[0].alias("l1"),
        ls[1].alias("l2"),
        ls[2].alias("l3"),
        F.explode(
            F.array(
                F.struct(F.col("lu").alias("vl"), F.col("u").alias("vx")),
                F.struct(F.col("lv").alias("vl"), F.col("v").alias("vx")),
                F.struct(F.col("lw").alias("vl"), F.col("w").alias("vx")),
            )
        ).alias("p"),
    ).select("l1", "l2", "l3", F.col("p.vl").alias("vl"), F.col("p.vx").alias("vx"))
    return pos.groupBy("l1", "l2", "l3").agg(
        F.least(
            F.count_distinct(F.when(F.col("vl") == F.col("l1"), F.col("vx"))),
            F.count_distinct(F.when(F.col("vl") == F.col("l2"), F.col("vx"))),
            F.count_distinct(F.when(F.col("vl") == F.col("l3"), F.col("vx"))),
        )
        .cast("long")
        .alias("support")
    )


def mni_star3_supports(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(center_label, l1, l2, l3, support): exact MNI support of every
    labelled 3-star (leaf labels sorted) — the FSM level-3 star slice,
    one result for all labellings. Centers qualify through the per-center
    label HISTOGRAM (multiset-binomial style joins bounded by L³ per
    center, never C(deg, 3) wedge rows); leaf domains join the labelled
    closure against the per-center qualifying-multiset table. Unlike the
    2-star bitmask gather, the key space here is the C(L+2, 3) leaf
    multisets — the Σ deg-row leaf join fans ×(qualifying multisets per
    center), bounded by label-domain size, not degree."""
    with GraphContext(edges) as ctx:
        # lv feeds the histogram chain and the leaf gather, hc the four
        # qualifying-multiset subtrees
        lv, hc, _ = _label_state(ctx, labels)
        hc.count()
        h1 = hc.select(
            "c", "cl", F.col("ll").alias("k1"), F.col("cnt").alias("n1")
        )
        h2 = hc.select("c", F.col("ll").alias("k2"), F.col("cnt").alias("n2"))
        h3 = hc.select("c", F.col("ll").alias("k3"))
        distinct3 = (
            h1.join(h2, "c")
            .filter(F.col("k1") < F.col("k2"))
            .join(h3, "c")
            .filter(F.col("k2") < F.col("k3"))
            .select("c", "cl", "k1", "k2", "k3")
        )
        pair_first = (
            h1.filter(F.col("n1") >= 2)
            .join(h3, "c")
            .filter(F.col("k1") < F.col("k3"))
            .select("c", "cl", "k1", F.col("k1").alias("k2"), "k3")
        )
        pair_last = (
            h1.join(h2, "c")
            .filter((F.col("k1") < F.col("k2")) & (F.col("n2") >= 2))
            .select("c", "cl", "k1", "k2", F.col("k2").alias("k3"))
        )
        triple = h1.filter(F.col("n1") >= 3).select(
            "c", "cl", "k1", F.col("k1").alias("k2"), F.col("k1").alias("k3")
        )
        qual = ctx.cache(
            distinct3.unionByName(pair_first)
            .unionByName(pair_last)
            .unionByName(triple)
        )
        centers = qual.groupBy("cl", "k1", "k2", "k3").agg(
            F.count(F.lit(1)).alias("_dc")
        )
        # qual (per-center multiset lists) is too wide to broadcast, so
        # the gather is a shuffle join — UNHINTED, so AQE's skew-join
        # splitting can fan a hot center (hinted SHUFFLE_HASH joins are
        # exempt from AQE splitting)
        leaf = lv.join(qual, "c").filter(
            (F.col("vl") == F.col("k1"))
            | (F.col("vl") == F.col("k2"))
            | (F.col("vl") == F.col("k3"))
        )
        doms = leaf.groupBy("cl", "k1", "k2", "k3").agg(
            F.least(
                F.count_distinct(F.when(F.col("vl") == F.col("k1"), F.col("v"))),
                F.count_distinct(F.when(F.col("vl") == F.col("k2"), F.col("v"))),
                F.count_distinct(F.when(F.col("vl") == F.col("k3"), F.col("v"))),
            ).alias("_dl")
        )
        out = centers.join(doms, ["cl", "k1", "k2", "k3"]).select(
            F.col("cl").alias("center_label"),
            F.col("k1").alias("l1"),
            F.col("k2").alias("l2"),
            F.col("k3").alias("l3"),
            F.least("_dc", "_dl").cast("long").alias("support"),
        )
        rows = out.collect()
    return local_frame(edges.sparkSession, rows, out.schema)


def mni_path4_supports(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(l1, l2, l3, l4, support): exact MNI support of every labelled
    4-path, label sequence in canonical (≤ reversal) orientation — the
    FSM level-3 path slice, one distributed job for all labellings.
    Enumerates ordered 4-paths (Σ over edges (d_u−1)(d_v−1) rows — the
    same bound the reference's path matcher pays); both orientations of
    each underlying path land on the canonical key with positions
    remapped, so the per-position distinct counts ARE the orbit domains
    for palindromic and non-palindromic labellings alike."""

    def lab(col: str, name: str) -> DataFrame:
        return labels.select(F.col("id").alias(col), F.col("label").alias(name))

    und = undirected(edges)
    e1 = und.select(F.col("src").alias("v1"), F.col("dst").alias("v2"))
    e2 = und.select(F.col("src").alias("v2"), F.col("dst").alias("v3"))
    e3 = und.select(F.col("src").alias("v3"), F.col("dst").alias("v4"))
    p = (
        e1.join(e2, "v2")
        .filter(F.col("v3") != F.col("v1"))
        .join(e3, "v3")
        .filter((F.col("v4") != F.col("v2")) & (F.col("v4") != F.col("v1")))
    )
    for i in range(1, 5):
        p = p.join(lab(f"v{i}", f"l{i}"), f"v{i}")
    fwd_le = F.struct("l1", "l2", "l3", "l4") <= F.struct("l4", "l3", "l2", "l1")
    kseq = F.when(fwd_le, F.array("l1", "l2", "l3", "l4")).otherwise(
        F.array("l4", "l3", "l2", "l1")
    )
    vseq = F.when(fwd_le, F.array("v1", "v2", "v3", "v4")).otherwise(
        F.array("v4", "v3", "v2", "v1")
    )
    pos = p.select(
        kseq[0].alias("l1"),
        kseq[1].alias("l2"),
        kseq[2].alias("l3"),
        kseq[3].alias("l4"),
        F.posexplode(vseq).alias("_pos", "_v"),
    )
    return pos.groupBy("l1", "l2", "l3", "l4").agg(
        F.least(
            *[
                F.count_distinct(F.when(F.col("_pos") == i, F.col("_v")))
                for i in range(4)
            ]
        )
        .cast("long")
        .alias("support")
    )


def fsm(
    spark: SparkSession,
    edges: DataFrame,
    labels: DataFrame,
    min_support: int,
    max_edges: int = 3,
    strategy: str = "edge",
) -> list[tuple[SmallGraph, int]]:
    """Frequent-subgraph mining with exact MNI support (the reference's
    fsm app): seed with frequent labelled single edges, then repeatedly
    extend frequent patterns by one edge (new vertex takes every label
    seen among frequent seeds) and keep those with support ≥ min_support.

    Returns [(pattern, support)] for all frequent patterns with ≤
    max_edges edges.

    Levels 1-3 come from the distributed MNI support tables
    (mni_edge_supports / mni_star2_supports; triangle / 3-star / 4-path
    for level 3): ONE Spark job per pattern SHAPE for ALL labellings —
    the per-size vector aggregation the reference's FSM uses (E6/D8).
    MNI is anti-monotone (a subpattern's support ≥ any superpattern's),
    so filtering each full shape table by min_support is EXACTLY the
    candidate-generation + filter loop. Levels ≥ 4 run pattern-at-a-time
    match jobs (ONE Spark job per pattern — all orbit domains in a
    single aggregation), matching the reference's pattern-granularity
    execution. Levels 1-3 share one GraphContext: its canonical edge set,
    labelled closure and center-labelled histogram are filled once before
    the shape tables start, and released once they are collected.

    `strategy` selects the candidate-growth rule past level 3
    (PatternGenerator::extend's two modes, core/PatternGenerator.cc:79):
    "edge" (default) adds one edge per level — levels are edge counts,
    the reference FSM's stepping; "vertex" adds one vertex per level
    joined to any subset of existing vertices (max_edges then bounds the
    number of extension STEPS, and candidates within a level may differ
    in edge count)."""
    if strategy not in ("edge", "vertex"):
        raise ValueError(f"unknown fsm strategy: {strategy!r}")
    # levels 1–3 are mutually independent table computations — run them
    # as CONCURRENT Spark jobs (guide §2.6: one job's straggler tail
    # back-fills with the next job's tasks; sequentially they left most
    # cores idle between the five smallish jobs). Assembly below keeps
    # the exact sequential order, so results are byte-identical; the
    # rare all-infrequent-edges case computes tables it then discards.
    from concurrent.futures import ThreadPoolExecutor

    with GraphContext(edges) as ctx, ThreadPoolExecutor(max_workers=5) as pool:
        if max_edges >= 2:
            # the star threads' own contexts read these caches and own
            # none; threads started on empty caches would compute the
            # same partitions twice
            _label_state(ctx, labels)[1].count()
        f_edge = pool.submit(lambda: mni_edge_supports(edges, labels).collect())
        f_star2 = (
            pool.submit(lambda: mni_star2_supports(edges, labels).collect())
            if max_edges >= 2
            else None
        )
        if max_edges >= 3:
            f_tri = pool.submit(
                lambda: mni_triangle_supports(edges, labels).collect()
            )
            f_star3 = pool.submit(
                lambda: mni_star3_supports(edges, labels).collect()
            )
            f_path4 = pool.submit(
                lambda: mni_path4_supports(edges, labels).collect()
            )
        edge_rows = f_edge.result()
        star2_rows = f_star2.result() if f_star2 is not None else []
        tri_rows = f_tri.result() if max_edges >= 3 else []
        star3_rows = f_star3.result() if max_edges >= 3 else []
        path4_rows = f_path4.result() if max_edges >= 3 else []
    label_pool = sorted({r.l1 for r in edge_rows} | {r.l2 for r in edge_rows})

    frequent: list[tuple[SmallGraph, int]] = []
    for r in edge_rows:
        if r.support >= min_support:
            p = SmallGraph()
            p.add_edge(1, 2)
            p.labels = {1: r.l1, 2: r.l2}
            frequent.append((p, int(r.support)))
    if not frequent or max_edges < 2:
        return frequent

    level: list[SmallGraph] = []
    for r in star2_rows:
        if r.support >= min_support:
            p = SmallGraph(
                edges=[(1, 2), (1, 3)],
                labels={1: r.center_label, 2: r.l1, 3: r.l2},
            )
            frequent.append((p, int(r.support)))
            level.append(p)

    n_edges = 2
    if level and max_edges >= 3:
        # level 3 from the distributed per-shape support tables (every
        # 3-edge connected pattern is a labelled triangle, 3-star or
        # 4-path): ONE Spark job per shape for ALL labellings — by MNI
        # anti-monotonicity, filtering each full table at min_support is
        # exactly the candidate-generation + filter loop
        level = []
        for r in tri_rows:
            if r.support >= min_support:
                p = SmallGraph(
                    edges=[(1, 2), (1, 3), (2, 3)],
                    labels={1: r.l1, 2: r.l2, 3: r.l3},
                )
                frequent.append((p, int(r.support)))
                level.append(p)
        for r in star3_rows:
            if r.support >= min_support:
                p = SmallGraph(
                    edges=[(1, 2), (1, 3), (1, 4)],
                    labels={1: r.center_label, 2: r.l1, 3: r.l2, 4: r.l3},
                )
                frequent.append((p, int(r.support)))
                level.append(p)
        for r in path4_rows:
            if r.support >= min_support:
                p = SmallGraph(
                    edges=[(1, 2), (2, 3), (3, 4)],
                    labels={1: r.l1, 2: r.l2, 3: r.l3, 4: r.l4},
                )
                frequent.append((p, int(r.support)))
                level.append(p)
        n_edges = 3

    while level and n_edges < max_edges:
        n_edges += 1
        # structural extensions; label every unlabelled (new) vertex
        if strategy == "vertex":
            from peregrine_spark.plans.generators import _vertex_extensions

            grown: list[SmallGraph] = [
                g
                for p in level
                for g, _ in _vertex_extensions(p, overwrite_anti=False)
            ]
        else:
            grown = extend_by_edge(level)
        candidates: dict[str, SmallGraph] = {}
        for g in grown:
            unlab = [v for v in g.vertices if v not in g.labels]
            if not unlab:
                candidates.setdefault(g.canonical_form(), g)
                continue
            assert len(unlab) == 1
            for lab in label_pool:
                h = SmallGraph(
                    edges=list(g.edges), anti_edges=list(g.anti_edges),
                    labels={**g.labels, unlab[0]: lab},
                )
                candidates.setdefault(h.canonical_form(), h)
        level = []
        for p in candidates.values():
            m = match_pattern(edges, p, labels=labels, count_only=False)
            s = mni_support(m, p)
            if s >= min_support:
                frequent.append((p, s))
                level.append(p)
    return frequent
