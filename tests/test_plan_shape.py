"""Executed physical-plan shapes of the hot operators, pinned.

Every action an operator runs is one SQL execution, and Spark's SQL status
store keeps each execution's final (post-AQE) physical plan text even with
the UI off. For each operator these tests count, over all executions it
starts, the shuffle exchanges, the joins by strategy and any Python
nodes, and compare against the counts of the shipped plans — so a plan
regression (a lost broadcast, an extra shuffle, a Python UDF on the hot
path, a result frame read back through Python workers) fails here
instead of hiding in an explain dump.

Only each plan's top-level tree counts: AQE reprints the initial plan
after the final one, and a cached input reprints its whole plan under
every InMemoryRelation.

Cached intermediates are as wide as their data (the session lets AQE
coalesce cached plans): a cache that fits one partition already meets a
following aggregation's or join's distribution, so it adds no Exchange.
"""

import re
from collections import Counter

import numpy as np
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from peregrine_spark import reference as ref
from peregrine_spark.operators import graph, iterative, motifs, skew
from peregrine_spark.operators.graph import GraphContext, degrees
from peregrine_spark.operators.groups import group_count
from peregrine_spark.operators import labels as label_ops
from peregrine_spark.operators.labels import (
    discover_star_labels,
    discover_star_labels_3,
    mni_star2_supports,
    mni_star3_supports,
)
from peregrine_spark.operators.patterns import clique_count
from peregrine_spark.operators.triangles import triangle_count
from peregrine_spark.plans.patterns import SmallGraph
from peregrine_spark.session import local_frame
from peregrine_spark.sources.testdata import copurchase_edges, part_labels
from tests import golden

SF = "/root/testdata/sf0.001"
JOINS = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
# Python UDF nodes, and the scan of a DataFrame made from a Python list
# (createDataFrame over rows plans a Python RDD: reading it starts Python
# workers). None of these operators checkpoints, the other source of an
# ExistingRDD scan.
PYTHON = (
    "BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas",
    "Scan ExistingRDD",
)
# a tree line: branch marks, optional codegen star, node name (a scan
# named with its source), "(id)"
_NODE = re.compile(r"^[\s:+\-*]*((?:Scan )?[A-Za-z]\w*)[^()]*\((\d+)\)")


def _top_level_nodes(plan: str) -> list[tuple[str, int, str]]:
    """(name, depth, line) of each node of the top-level final plan in a
    formatted plan text; depth is the column of the node's branch mark.

    Operator ids number everything under an InMemoryRelation (k) with the
    ids k+1 .. r, r being the id of the cached plan's root on the next
    line; those ranges are dropped. The top-level AQE initial plan starts
    at the one unindented "+- == Initial Plan ==" header."""
    nodes, nested, after_imr = [], [], None
    for line in plan.split("\n\n")[0].splitlines():
        if line.startswith("+- == Initial Plan =="):
            break
        m = _NODE.match(line)
        if not m:
            continue
        name, op_id = m.group(1), int(m.group(2))
        if after_imr is not None:
            nested.append((after_imr, op_id))
        after_imr = op_id if name == "InMemoryRelation" else None
        nodes.append((name, op_id, line.find("- "), line))
    return [
        (n, depth, line)
        for n, i, depth, line in nodes
        if not any(lo < i <= hi for lo, hi in nested)
    ]


def _join_sides(plan: str, join: str) -> list[list[str]]:
    """Node names of each child subtree (left first) of the first
    top-level node whose line contains `join`."""
    nodes = _top_level_nodes(plan)
    at = next(k for k, (_, _, line) in enumerate(nodes) if join in line)
    depth, sides = nodes[at][1], []
    for name, d, _ in nodes[at + 1:]:
        if d <= depth:
            break
        if d == depth + 3:
            sides.append([])
        sides[-1].append(name)
    return sides


def executed_plans(spark, action) -> list[str]:
    """Run `action`; return the final plan texts of the SQL executions it
    started."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    # by id, not list position: spark.sql.ui.retainedExecutions caps the list
    last = max((x.executionId() for x in executions()), default=-1)
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [
        x.physicalPlanDescription() for x in executions() if x.executionId() > last
    ]


def plan_shape(spark, action) -> dict[str, int]:
    """Run `action`; return {node: count} over the top-level final plans of
    the SQL executions it started, plus "executions". Zero counts are
    left out."""
    plans = executed_plans(spark, action)
    seen = Counter(n for p in plans for n, _, _ in _top_level_nodes(p))
    shape = {"executions": len(plans), "Exchange": seen["Exchange"]}
    shape.update({j: seen[j] for j in JOINS})
    shape["python"] = sum(seen[p] for p in PYTHON)
    return {k: v for k, v in shape.items() if v}


def _seq(seq) -> list:
    """A Scala Seq over py4j as a list."""
    return [seq.apply(i) for i in range(seq.size())]


def started(spark, action) -> dict[str, int]:
    """Run `action`; return how many Spark jobs it started, and how many
    tasks ran in their completed stages and how many of those stages
    wrote shuffle output, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def stage_ids(jobs):
        return {s for j in jobs for s in _seq(j.stageIds())}

    def attempt(stage_id):
        # past spark.ui.retainedStages (1000 here) the store drops
        # SKIPPED stages first (their completion time, -1, sorts lowest),
        # then the oldest completed ones; a stage of an action this short
        # that is gone was skipped and ran no task
        try:
            return store.lastStageAttempt(stage_id)
        except Py4JJavaError as e:
            if "NoSuchElementException" not in str(e.java_exception):
                raise
            return None

    before = _seq(store.jobsList(None))
    last_job = max((j.jobId() for j in before), default=-1)
    last_stage = max(stage_ids(before), default=-1)
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    new = [j for j in _seq(store.jobsList(None)) if j.jobId() > last_job]
    stages = [attempt(s) for s in stage_ids(new) if s > last_stage]
    done = [s for s in stages if s is not None and s.status().toString() == "COMPLETE"]
    return {
        "jobs": len(new),
        "tasks": sum(s.numTasks() for s in done),
        "shuffle_stages": sum(1 for s in done if s.shuffleWriteRecords() > 0),
    }


def test_copurchase_edges_shape(spark):
    # before the fixture below caches the same plan: a cache hit would
    # reduce this to an in-memory scan
    got = plan_shape(spark, lambda: copurchase_edges(spark, SF).collect())
    assert got == {"executions": 1, "Exchange": 2}


@pytest.fixture(scope="module")
def copurchase(spark):
    edges = copurchase_edges(spark, SF).cache()
    labels = part_labels(spark, SF).cache()
    edges.count()
    labels.count()
    yield edges, labels
    edges.unpersist()
    labels.unpersist()


def test_triangle_count_shape(spark, copurchase):
    edges, _ = copurchase
    got = plan_shape(spark, lambda: triangle_count(edges).collect())
    assert got == {"executions": 3, "BroadcastHashJoin": 2}


def test_triangle_count_result_is_local(spark, copurchase):
    # the count is computed eagerly; reading its one-row result runs no job
    edges, _ = copurchase
    result = triangle_count(edges)
    assert started(spark, result.collect)["jobs"] == 0


# Tasks that collecting triangle_count runs on the cached sf0.001
# co-purchase graph at 8 shuffle partitions, summed over its completed
# stages (16 jobs). It was 138 (18 jobs) while every cached intermediate
# kept the shuffle width; a cache as wide as its data is scanned by one
# task, not a task wave.
TRIANGLE_COUNT_TASKS = 17


def test_triangle_count_tasks(spark, copurchase):
    edges, _ = copurchase
    got = started(spark, lambda: triangle_count(edges).collect())
    assert got["tasks"] <= TRIANGLE_COUNT_TASKS


def test_clique_count_shape(spark, copurchase):
    # both adjacency attaches of the base edge and the one of the 4th
    # vertex are map-side broadcast joins (the graph is far below
    # graph.BROADCAST_MAX_EDGES)
    edges, _ = copurchase
    got = plan_shape(spark, lambda: clique_count(edges, 4).collect())
    assert got == {"executions": 3, "BroadcastHashJoin": 3}


def test_degrees_shape(spark, copurchase):
    edges, _ = copurchase
    got = plan_shape(spark, lambda: degrees(edges).collect())
    assert got == {"executions": 1, "Exchange": 3}


# cycle4_count's two routes, forced as in test_motifs_sinks: full wedge
# enumeration (the default here), and the intersect route with broadcast
# adjacency attaches (id packing bound failed) or hub-split shuffle ones
# (broadcast bound 0). The shuffle form's exchanges are the pair groupBy,
# both sides of each of its three shuffle-hash attaches, and the final
# aggregation's gather.
CYCLE4_ROUTES = {
    "full_enum": ({}, {"executions": 3, "Exchange": 4}),
    "broadcast": (
        {"PACK_MAX_ID": 0},
        {"executions": 3, "Exchange": 2, "BroadcastHashJoin": 3},
    ),
    "hub_split": (
        {"BROADCAST_MAX_EDGES": 0},
        {"executions": 3, "Exchange": 8, "ShuffledHashJoin": 3},
    ),
}


@pytest.mark.parametrize("route", list(CYCLE4_ROUTES))
def test_cycle4_count_shape(spark, copurchase, monkeypatch, route):
    edges, _ = copurchase
    force, want = CYCLE4_ROUTES[route]
    for name, value in force.items():
        monkeypatch.setattr(graph, name, value)
    got = plan_shape(spark, lambda: motifs.cycle4_count(edges).collect())
    assert got == want


# Group counting of one pattern whose three groups attach to 3, 2 and 1
# core vertices (a triangle core), in array mode (the default on this
# graph) and in shuffle mode, forced as in test_patterns by failing array
# mode's max-degree gate. Both modes count the same matches.
GROUP_PATTERN = SmallGraph(
    edges=[(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4), (1, 5), (2, 5), (1, 6)]
)
GROUP_MATCHES = 33_126_711_675
GROUP_MODES = {
    "array": (None, {"executions": 2, "Exchange": 1, "BroadcastHashJoin": 5}),
    "shuffle": (200_000, {"executions": 2, "Exchange": 3, "BroadcastHashJoin": 6}),
}


@pytest.mark.parametrize("mode", list(GROUP_MODES))
def test_group_count_shape(spark, copurchase, mode):
    edges, _ = copurchase
    max_deg, want = GROUP_MODES[mode]
    rows = []
    with GraphContext(edges) as ctx:
        # the context's statistics job runs here, outside the count
        if max_deg is not None:
            ctx.max_deg = max_deg
        assert ctx.array_mode() == (mode == "array")
        got = plan_shape(
            spark,
            lambda: rows.extend(group_count(edges, GROUP_PATTERN, ctx=ctx).collect()),
        )
    assert got == want
    assert rows[0]["n_matches"] == GROUP_MATCHES


# Each labelled star operator runs its cache fill and its collects; the
# label joins are broadcast (the sf0.001 part labels are far below the
# session's autoBroadcastJoinThreshold). Choosing that route runs no job.
LABEL_OPS = {
    "star2_labels": (
        discover_star_labels,
        {"executions": 3, "Exchange": 1, "BroadcastHashJoin": 2},
    ),
    "star3_labels": (
        discover_star_labels_3,
        {"executions": 3, "Exchange": 1, "BroadcastHashJoin": 5},
    ),
    "mni_star2_supports": (
        mni_star2_supports,
        {"executions": 5, "Exchange": 5, "BroadcastHashJoin": 2},
    ),
    "mni_star3_supports": (
        mni_star3_supports,
        {"executions": 3, "Exchange": 3, "BroadcastHashJoin": 2},
    ),
}


@pytest.mark.parametrize("op", list(LABEL_OPS))
def test_label_operator_shape(spark, copurchase, op):
    edges, labels = copurchase
    fn, want = LABEL_OPS[op]
    got = plan_shape(spark, lambda: fn(edges, labels).collect())
    assert got == want


def test_label_route_check_starts_no_job(spark, copurchase):
    # the check reads Catalyst's size estimate of the label table: a
    # parquet scan, a cached table and a local one plan no job and
    # broadcast; a Python-list table has no size estimate, so no hint
    _, cached = copurchase
    tables = [
        part_labels(spark, SF),
        cached,
        local_frame(spark, [(1, 0), (2, 1)], "id long, label int"),
        spark.createDataFrame([(1, 0), (2, 1)], "id long, label int"),
    ]
    hints = []
    for labels in tables:
        got = started(spark, lambda: hints.append(label_ops._label_dim(labels)))
        assert got["jobs"] == 0
    assert [h is F.broadcast for h in hints] == [True, True, True, False]
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert label_ops._label_dim(tables[0]) is not F.broadcast
    finally:
        spark.conf.set(key, old)


def test_star_labels_empty_result(spark, copurchase):
    # one edge: no vertex has two neighbours, so no 2-star; the empty
    # result keeps the schema of a non-empty one
    edges, labels = copurchase
    src, dst = edges.first()
    one_edge = edges.where((F.col("src") == src) & (F.col("dst") == dst)).limit(1)
    got = discover_star_labels(one_edge, labels)
    assert got.collect() == []
    assert got.schema == discover_star_labels(edges, labels).schema


@pytest.mark.parametrize("hubs", [False, True], ids=["no_hubs", "hubs"])
@pytest.mark.parametrize(
    "algo", ["pagerank", "connected_components", "label_propagation"]
)
def test_superstep_gather_shape(spark, monkeypatch, algo, hubs):
    # The gather joins the edge side _split_gather cached (the rest hash
    # partitioned by src into n_part partitions, hub edges round-robin)
    # with the state. A user-numbered repartition is never coalesced, so
    # the caches keep n_part partitions and only the state side shuffles.
    # A hub threshold of 1 makes every vertex of degree > 1 a hub; the
    # states equal the NumPy oracle's either way.
    calls, widths = [], []
    split_gather = iterative._split_gather

    def recording_split_gather(*args):
        *args, cache = args
        cached = []
        gather = split_gather(*args, lambda df: cached.append(df) or cache(df))

        def recording_gather(src_state):
            # from the second superstep on, the caches are filled
            if calls:
                widths.append([d.rdd.getNumPartitions() for d in cached])
            calls.append(len(cached) == 2)
            return gather(src_state)

        return recording_gather

    monkeypatch.setattr(iterative, "_split_gather", recording_split_gather)
    if hubs:
        monkeypatch.setattr(skew, "auto_hub_threshold", lambda n_rows: 1)
    pairs = np.asarray(golden.TWO_TRI_BRIDGE)
    pairs = np.concatenate([pairs, pairs[:, ::-1]])
    e = golden.to_spark_edges(spark, pairs)
    run = getattr(iterative, algo)
    steps = {"n_iter": 2} if algo == "label_propagation" else {"max_iter": 2}
    if algo == "pagerank":
        steps["tol"] = None
    res = []
    plans = executed_plans(spark, lambda: res.append(run(spark, e, **steps)))
    col = {"pagerank": "rank", "connected_components": "comp"}.get(algo, "label")
    got = {r["id"]: r[col] for r in res[0].state.collect()}
    want = getattr(ref, algo)(pairs, n_iter=2)
    assert set(got) == set(want)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-12
    gather = "ShuffledHashJoin Inner"
    gathers = [
        p for p in plans if any(gather in line for _, _, line in _top_level_nodes(p))
    ]
    assert len(gathers) == 2 and calls == [hubs, hubs]
    for plan in gathers:
        edge_side, state_side = _join_sides(plan, gather)
        assert "InMemoryTableScan" in edge_side and "Exchange" not in edge_side
        assert state_side.count("Exchange") == 1
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert widths == [[n_part] * (2 if hubs else 1)]


def test_lp_superstep_hash_aggregates(spark):
    # LP's argmax is a max over one packed decimal key per vertex, which
    # hash-aggregates; a max over a struct planned SortAggregate over a
    # Sort of the message counts in every superstep
    pairs = np.asarray(golden.TWO_TRI_BRIDGE)
    e = golden.to_spark_edges(spark, np.concatenate([pairs, pairs[:, ::-1]]))
    plans = executed_plans(
        spark, lambda: iterative.label_propagation(spark, e, n_iter=2)
    )
    steps = [
        [n for n, _, _ in _top_level_nodes(p)]
        for p in plans
        if "ShuffledHashJoin Inner" in p
    ]
    assert len(steps) == 2
    for names in steps:
        assert "SortAggregate" not in names and "Sort" not in names
        assert names.count("HashAggregate") >= 2
