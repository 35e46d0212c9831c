"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: exact triangle count on the co-purchase link
                graph at sf0.001.
queries()     — one entry per implemented operator (SURVEY.md §2 /
                FIXTURES.md §4): graph derivations, degree/orientation,
                exact triangles, and the iterative algorithms (hash-min CC,
                PageRank, label propagation) with fixed-superstep semantics
                so DuckDB oracles can reproduce them exactly.
oracle_sql()  — generated by peregrine_spark.plans.oracles (unrolled
                superstep CTEs).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from peregrine_spark.operators import graph as G  # noqa: E402
from peregrine_spark.operators import triangles as T  # noqa: E402
from peregrine_spark.operators.iterative import (  # noqa: E402
    connected_components,
    label_propagation,
    pagerank,
)
from peregrine_spark.plans import oracles  # noqa: E402
from peregrine_spark.sources import testdata as TD  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: exact triangle count on
    the co-purchase link graph (degree-ordered orientation + intersection
    join — the canonical Peregrine pattern)."""
    e = TD.copurchase_edges(spark, "/root/testdata/sf0.001")
    return T.triangle_count(e)


# -------------------------------------------------------------- queries --
def _q_edges(graph: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        if graph == "copurchase":
            return TD.copurchase_edges(spark, sf_dir)
        return TD.events_user_edges(spark, sf_dir)

    return q


def _q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.degrees(TD.copurchase_edges(spark, sf_dir))


def _q_top_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = G.degrees(TD.copurchase_edges(spark, sf_dir))
    return d.orderBy(F.col("deg").desc(), F.col("id").asc()).limit(100)


def _q_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.orient(TD.copurchase_edges(spark, sf_dir))


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.triangle_count(TD.copurchase_edges(spark, sf_dir))


def _q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.triangles_per_vertex(TD.copurchase_edges(spark, sf_dir))


def _q_cc(graph: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        e = _q_edges(graph)(spark, sf_dir)
        res = connected_components(spark, e, max_iter=oracles.CC_K)
        return res.state.select("id", "comp")

    return q


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = TD.copurchase_edges(spark, sf_dir)
    res = pagerank(
        spark, G.undirected(e), tol=None, max_iter=oracles.PR_K, resume=False
    )
    return res.state.select(
        "id", F.round(F.col("rank") * 1e6).cast("long").alias("rank_ppm")
    )


def _q_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = TD.copurchase_edges(spark, sf_dir)
    res = label_propagation(spark, e, n_iter=oracles.LP_K)
    return res.state.select("id", "label")


# ---------------------------------------------- training-data operators --
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TD.load(spark, sf_dir, "documents")


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.text import with_token_stats

    return with_token_stats(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_chars2", F.round("avg_token_len", 6).alias("avg_token_len")
    )


def _q_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_distinct_texts"),
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.text import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        F.round("quality", 6).alias("quality"),
    )


def _q_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.text import language_id

    return language_id(_docs(spark, sf_dir)).select("doc_id", "lang_guess")


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.5).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(_docs(spark, sf_dir), k_shingle=3, threshold=0.5)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.dedup import simhash, simhash_near_pairs

    return simhash_near_pairs(
        simhash(_docs(spark, sf_dir), id_col="doc_id"), max_hamming=3
    )


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.similarity import cosine_topk

    emb = TD.load(spark, sf_dir, "embeddings")
    q = emb.orderBy("vec_id").first()
    top = cosine_topk(emb, [float(x) for x in q.embedding], k=10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def _q_emb_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact all-pairs baseline (oracle ground truth); the LSH scale path
    # is the separate emb_near_pairs_lsh entry
    from peregrine_spark.operators.similarity import embedding_near_pairs_exact

    emb = TD.load(spark, sf_dir, "embeddings")
    return embedding_near_pairs_exact(emb, threshold=0.45).select(
        "a", "b", F.round("cosine", 6).alias("cosine")
    )


def _q_emb_near_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.similarity import embedding_near_pairs

    emb = TD.load(spark, sf_dir, "embeddings")
    dim = len(emb.first().embedding)
    assert dim == 64, "oracle embeds 64-dim hyperplane literals"
    out = embedding_near_pairs(emb, dim=dim, threshold=0.45, max_hamming=4)
    return out.select("a", "b", F.round("cosine", 6).alias("cosine"))


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # media table DERIVED from documents so every metadata column has a
    # SQL oracle; the fake-decode feature column stays out of the contract
    from peregrine_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )

    media = media_from_documents(_docs(spark, sf_dir))
    return extract_features(media, fake=True).drop("feature")


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (applyInPandasWithState) driven to completion
    with availableNow over the documents table, then read back — the
    batch-equivalent semantics (first-seen = min doc_id per distinct
    text) make it SQL-oracle-checkable."""
    import shutil

    from peregrine_spark.streaming.dedup import dedup_stream, write_dedup_log

    schema = TD.load(spark, sf_dir, "documents").schema
    # persistent scratch under the repo (NOT a tempdir torn down in this
    # function): the returned DataFrame keeps reading its source files
    # lazily, so the output must outlive this call at any sf — previous
    # run's leftovers are cleared on entry instead
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "data", "stream_dedup_gate"
    )
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(f"{base}/in")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{base}/in/part-0.parquet")
    stream = spark.readStream.schema(schema).parquet(f"{base}/in")
    q = write_dedup_log(dedup_stream(stream), f"{base}/out", f"{base}/chk")
    finished = q.awaitTermination(300)
    if not finished:
        # partial output would surface as a confusing oracle value-diff;
        # fail loudly instead
        q.stop()
        raise TimeoutError("stream_dedup did not finish within 300 s")
    return spark.read.parquet(f"{base}/out").select("hash", "doc_id")


def _q_mni_star2_supports(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.labels import mni_star2_supports

    return mni_star2_supports(
        TD.events_user_edges(spark, sf_dir), TD.user_labels(spark, sf_dir)
    )


def _q_clique(k: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from peregrine_spark.operators.patterns import clique_count

        return clique_count(TD.copurchase_edges(spark, sf_dir), k)

    return q


def _q_motifs4_vi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # closed-form D2-D4 counting (degrees / triangle incidences /
    # codegrees / clique frontier) — never enumerates a 4-vertex set
    from peregrine_spark.operators.motifs import motif_counts

    out = motif_counts(
        spark, TD.copurchase_edges(spark, sf_dir), 4, vertex_induced=True
    )
    return out.select("motif", F.col("count").alias("n"))


def _q_motifs5_vi_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k=5 catalog (21 isomorphism classes) on a deterministically
    # sparsified copurchase graph — catalog counting (fused groups +
    # clique path) + D5 conversion vs per-motif
    # join-chain/NOT-EXISTS/|Aut| oracle
    from peregrine_spark.operators.motifs import motif_counts

    e = TD.copurchase_edges(spark, sf_dir).filter(
        (F.col("src") + F.col("dst")) % 32 == 0
    )
    out = motif_counts(spark, e, 5, vertex_induced=True)
    return out.select("motif", F.col("count").alias("n"))


def _q_motifs5_vi_mod4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the DENSE k=5 catalog through the generalized group counter (B5
    # multi-group inclusion-exclusion, operators/groups.py): mod-4 keeps
    # every class nonzero at sf0.01 while the DuckDB oracle (the same
    # algebra, independently generated SQL + the D5 lincomb conversion)
    # stays tractable — the UNSPARSIFIED copurchase graph is oracle-bound
    # (~6 h of DuckDB at sf0.01), so its evidence lives in BENCH.md's
    # Spark-side profiles instead
    from peregrine_spark.operators.motifs import motif_counts

    e = TD.copurchase_edges(spark, sf_dir).filter(
        (F.col("src") + F.col("dst")) % 4 == 0
    )
    out = motif_counts(spark, e, 5, vertex_induced=True)
    return out.select("motif", F.col("count").alias("n"))


def _q_motifs6_vi_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FULL 112-class k=6 catalog (truth/6m.txt parity,
    # core/integrationtests/Counting_test.hh:52-84) — fused group
    # counting (11 shared core shapes) + oriented clique path, vs the
    # generated catalog oracle
    from peregrine_spark.operators.motifs import motif_counts

    e = TD.copurchase_edges(spark, sf_dir).filter(
        (F.col("src") + F.col("dst")) % 16 == 0
    )
    out = motif_counts(spark, e, 6, vertex_induced=True)
    return out.select("motif", F.col("count").alias("n"))


# structurally diverse k=7 subset: one class per distinct (core size,
# t-multiset, max |∪N|) up to two per core size 1..6 — star-7 (closed
# form), multi-group core-2, BOTH core-3 four-singleton-group shapes
# (the structures that demanded the set-partition rowval), core-4/5/6
# variants, K7. The full 853-class catalog loads and plans (zero
# residue, tests/test_patterns.py); the gate pins this cross-section.
# Each class runs at the sparsification its core size can afford
# ((src+dst) % mod == 0; measured per-class at sf0.01, 2026-08-17):
# big sparse cores (5-6 vertices) need mod 16 to keep the flow join
# chains bounded; K7 runs at mod 2 where the count is still nonzero
# (645) — the same per-class densities drive the generated oracle SQL.
M7_MODS = {
    "m7_000": 4, "m7_005": 4, "m7_012": 4, "m7_060": 4, "m7_068": 4,
    "m7_059": 16, "m7_063": 16, "m7_081": 16, "m7_136": 16,
    "m7_436": 32,  # its quadratic wedge core dominates the oracle at 16
    "m7_852": 2,
}


def _motifs_ei_by_mod(
    spark: SparkSession, sf_dir: str, k: int, mods: dict[str, int]
) -> DataFrame:
    """Shared k≥7 catalog-gate runner: per-class-density sparsified
    copurchase graph, counted by motifs.class_counts (fused group
    counting + oriented clique path) vs the generated group-algebra
    oracle. The mod groups are INDEPENDENT subgraphs — they run as
    concurrent Spark jobs (one thread per mod; each job's straggler tail
    back-fills with another's tasks), results assembled in catalog
    order."""
    from concurrent.futures import ThreadPoolExecutor

    from peregrine_spark.operators.motifs import all_motifs, class_counts

    cat = all_motifs(k)
    full = TD.copurchase_edges(spark, sf_dir)
    by_mod: dict[int, list[str]] = {}
    for n, m in mods.items():
        by_mod.setdefault(m, []).append(n)

    def run_mod(m: int, names: list[str]) -> dict[str, int]:
        e = full.filter((F.col("src") + F.col("dst")) % m == 0).cache()
        out = class_counts(e, {n: cat[n] for n in names})
        e.unpersist()
        return out

    counts: dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=len(by_mod)) as pool:
        futs = [
            pool.submit(run_mod, m, names)
            for m, names in sorted(by_mod.items())
        ]
        for f in futs:
            counts.update(f.result())
    return spark.createDataFrame(
        [(n, int(counts[n])) for n in mods], "motif string, n long"
    )


def _q_motifs7_ei(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _motifs_ei_by_mod(spark, sf_dir, 7, M7_MODS)


# k=8 cross-section (catalog parity past k=7 — reference ships
# core/graphs/graph8c.g6): one class per counting mechanism / core-shape
# family at a density that keeps the generated DuckDB oracle tractable —
# 7-star (degree binomial), edge cores with (1,5)/(3,3)/(1,2,3)/(2,2,2)
# groups (multi-group inclusion–exclusion), wedge+triangle cores with
# (2,3)/(1,2,2)/five-singleton groups (pair-list fan-outs + Venn atoms),
# and K8 on the oriented clique path.
M8_MODS: dict[str, int] = {
    "m8_0000": 4, "m8_0001": 4, "m8_0011": 4, "m8_0013": 4, "m8_0059": 4,
    "m8_0012": 16, "m8_0058": 16, "m8_0416": 16,
    "m8_11116": 2,
}


def _q_motifs8_ei(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _motifs_ei_by_mod(spark, sf_dir, 8, M8_MODS)


# k=9 cross-section (catalog parity: reference ships core/graphs/
# graph9c.g6; ours is WL-refined-canon self-generated, 261,080 classes).
# Same mechanism coverage at gate-tractable densities + K9.
M9_MODS: dict[str, int] = {
    "m9_000000": 4, "m9_000001": 4, "m9_000008": 4, "m9_000037": 4,
    "m9_000228": 4,
    "m9_000042": 16, "m9_000227": 16,
    "m9_261079": 2,
}


def _q_motifs9_ei(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _motifs_ei_by_mod(spark, sf_dir, 9, M9_MODS)


# structurally complete k=5 subset for the UNSPARSIFIED gate: star /
# chair / wedge-core / 3-group / K2,3 pair / triangle-core fan-out /
# overlapping-NU / double-leaf-group / near-clique / clique — every core
# shape and counting mechanism on the full graph. The remaining classes
# are hash-checked at mod-4 density and Spark-run unsparsified in
# BENCH.md (cycle5's 3.3e9-row core is DuckDB-oracle-bound).
M5_DENSE10 = [
    "m5_000", "m5_001", "m5_003", "m5_004", "m5_007",
    "m5_008", "m5_011", "m5_017", "m5_019", "m5_020",
]


def _q_motifs5_ei_dense10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.motifs import all_motifs, class_counts

    cat = all_motifs(5)
    e = TD.copurchase_edges(spark, sf_dir).cache()
    counts = class_counts(e, {n: cat[n] for n in M5_DENSE10})
    e.unpersist()
    return spark.createDataFrame(
        [(n, int(counts[n])) for n in M5_DENSE10], "motif string, n long"
    )


def _q_open_wedge_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # generic matcher with a C3 anti-edge (induced open wedge)
    from peregrine_spark.operators.patterns import match_pattern
    from peregrine_spark.plans.patterns import SmallGraph

    pat = SmallGraph.from_text("1 2\n2 3\n1 3 0\n")
    return match_pattern(TD.copurchase_edges(spark, sf_dir), pat)


def _q_edge_no_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # anti-vertex NOT-EXISTS: edge whose endpoints share no neighbour
    from peregrine_spark.operators.patterns import match_pattern
    from peregrine_spark.plans.patterns import SmallGraph

    pat = SmallGraph(edges=[(1, 2)])
    pat.add_anti_edge(1, 3)
    pat.add_anti_edge(2, 3)
    return match_pattern(TD.copurchase_edges(spark, sf_dir), pat)


def _q_labelled_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4 label filter through the generic matcher: brand-(1,2,3) triangles
    from peregrine_spark.operators.patterns import match_pattern
    from peregrine_spark.plans.patterns import SmallGraph

    pat = SmallGraph(edges=[(1, 2), (1, 3), (2, 3)], labels={1: 1, 2: 2, 3: 3})
    return match_pattern(
        TD.copurchase_edges(spark, sf_dir),
        pat,
        labels=TD.part_labels(spark, sf_dir),
    )


def _q_partial_label_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # partially-labelled edge (13, '*') grouped by discovered label (D8)
    from peregrine_spark.operators.patterns import match_pattern
    from peregrine_spark.plans.patterns import SmallGraph

    pat = SmallGraph(edges=[(1, 2)], labels={1: 13, 2: SmallGraph.WILDCARD})
    return match_pattern(
        TD.copurchase_edges(spark, sf_dir),
        pat,
        labels=TD.part_labels(spark, sf_dir),
        group_by_label_of=2,
    )


def _q_edge_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.labels import discover_edge_labels

    return discover_edge_labels(
        TD.copurchase_edges(spark, sf_dir), TD.part_labels(spark, sf_dir)
    )


def _q_star2_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.labels import discover_star_labels

    return discover_star_labels(
        TD.copurchase_edges(spark, sf_dir), TD.part_labels(spark, sf_dir)
    )


def _q_star3_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.labels import discover_star_labels_3

    return discover_star_labels_3(
        TD.events_user_edges(spark, sf_dir), TD.user_labels(spark, sf_dir)
    )


def _q_mni_edge_supports(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.labels import mni_edge_supports

    return mni_edge_supports(
        TD.copurchase_edges(spark, sf_dir), TD.part_labels(spark, sf_dir)
    )


def _q_cycle6_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k=6 pattern through the generic matcher (degree-ordered joins) on
    # the sparsified graph vs a generated join-chain/|Aut| oracle —
    # closes the k=6 reference-parity row alongside clique6/star5
    # (core/integrationtests/Counting_test.hh:52-84, truth/6m*.txt)
    from peregrine_spark.operators.patterns import match_pattern
    from peregrine_spark.plans.patterns import SmallGraph

    e = TD.copurchase_edges(spark, sf_dir).filter(
        (F.col("src") + F.col("dst")) % 16 == 0
    )
    return match_pattern(e, SmallGraph.cycle(6))


def _q_cycle4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # standalone oriented-DAG 4-cycle count (the motifs4 scale path) vs
    # the independent unoriented codegree identity in SQL
    from peregrine_spark.operators.motifs import cycle4_count

    return cycle4_count(TD.copurchase_edges(spark, sf_dir))


def _q_lsh_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persistent bucket-ring index: write, then probe with the min-vec_id
    # vector — partition-pruned reads, recall-lossless by pigeonhole, so
    # the result must equal the plain Hamming-filtered exact top-k
    import shutil

    from peregrine_spark.operators.similarity import (
        lsh_probe_topk,
        write_lsh_index,
    )

    emb = TD.load(spark, sf_dir, "embeddings")
    q = emb.orderBy("vec_id").first()
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "data", "lsh_index_gate"
    )
    shutil.rmtree(base, ignore_errors=True)
    write_lsh_index(emb, base, dim=64, n_planes=16, max_hamming=6)
    top = lsh_probe_topk(
        spark, base, [float(x) for x in q.embedding], k=10,
        n_planes=16, max_hamming=6,
    )
    return top.select("id", F.round("cosine", 6).alias("cosine"))


def _q_stream_window_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed degrees (watermark + tumbling window) driven to
    completion: the events table is fed as batch 1, a far-future sentinel
    event as batch 2 (maxFilesPerTrigger=1), so append mode emits exactly
    the windows wholly below the final real watermark — deterministic and
    SQL-restatable."""
    import datetime
    import shutil

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "data", "stream_window_gate"
    )
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(f"{base}/in")
    shutil.copy(f"{sf_dir}/events.parquet", f"{base}/in/a.parquet")
    ev = TD.load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).first()[0]
    sent = spark.createDataFrame(
        [(-1, mx + datetime.timedelta(days=10), -1, "sentinel", 0.0, "{}")],
        ev.schema,
    )
    sent.coalesce(1).write.mode("overwrite").parquet(f"{base}/sent")
    part = next(
        f for f in os.listdir(f"{base}/sent") if f.endswith(".parquet")
    )
    shutil.copy(f"{base}/sent/{part}", f"{base}/in/b.parquet")
    now = os.path.getmtime(f"{base}/in/a.parquet")
    os.utime(f"{base}/in/b.parquet", (now + 60, now + 60))

    from peregrine_spark.streaming.ingest import windowed_event_degrees

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in")
    )
    agg = windowed_event_degrees(stream.select("ts", "user_id"))
    q = (
        agg.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/chk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_window_degrees did not finish in 300 s")
    return spark.read.parquet(f"{base}/out").select(
        F.unix_timestamp("window_start").cast("long").alias("window_start_epoch"),
        "user_id",
        "deg",
    )


def _q_fsm2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end FSM driver loop (E6): seed edges → extend → MNI filter,
    # max_edges=2, on the brand-labelled copurchase graph; encoded as one
    # row per frequent pattern for the SQL oracle (edge rows carry
    # center_label = -1)
    from peregrine_spark.operators.labels import fsm

    out = fsm(
        spark,
        TD.copurchase_edges(spark, sf_dir),
        TD.part_labels(spark, sf_dir),
        min_support=80,
        max_edges=2,
    )
    rows = []
    for p, s in out:
        if len(p.edges) == 1:
            ls = sorted(p.labels.values())
            rows.append(("edge", -1, int(ls[0]), int(ls[1]), s))
        else:
            center = next(v for v in p.vertices if len(p.neighbours(v)) == 2)
            leaves = sorted(p.labels[v] for v in p.vertices if v != center)
            rows.append(
                ("star2", int(p.labels[center]), int(leaves[0]), int(leaves[1]), s)
            )
    return spark.createDataFrame(
        rows, "pattern string, center_label int, l1 int, l2 int, support long"
    )


FSM3_MIN_SUPPORT = 16
FSM3_MOD = 8


def _q_fsm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FSM to max_edges=3 on the brand-labelled mod-8 copurchase graph
    # (25 labels, varied supports — the unsparsified events graph is
    # support-degenerate: every pattern saturates its tiny user domain):
    # levels 1-3 all from distributed per-shape MNI tables (edge/star2 +
    # triangle/star3/path4 — E6/D8 vector aggregation, one job per
    # shape). Encoded (pattern, a, b, c, d, support) with -1 padding.
    from peregrine_spark.operators.labels import fsm

    e = TD.copurchase_edges(spark, sf_dir).filter(
        (F.col("src") + F.col("dst")) % FSM3_MOD == 0
    )
    out = fsm(
        spark,
        e,
        TD.part_labels(spark, sf_dir),
        min_support=FSM3_MIN_SUPPORT,
        max_edges=3,
    )
    rows = []
    for p, s in out:
        deg = {v: len(p.neighbours(v)) for v in p.vertices}
        if len(p.edges) == 1:
            ls = sorted(p.labels.values())
            rows.append(("edge", int(ls[0]), int(ls[1]), -1, -1, s))
        elif len(p.edges) == 2:
            center = next(v for v in p.vertices if deg[v] == 2)
            leaves = sorted(p.labels[v] for v in p.vertices if v != center)
            rows.append(
                ("star2", int(p.labels[center]), int(leaves[0]), int(leaves[1]), -1, s)
            )
        elif max(deg.values()) == 3:
            center = next(v for v in p.vertices if deg[v] == 3)
            leaves = sorted(p.labels[v] for v in p.vertices if v != center)
            rows.append(("star3", int(p.labels[center]), *map(int, leaves), s))
        elif len(p.vertices) == 3:
            ls = sorted(p.labels.values())
            rows.append(("triangle", *map(int, ls), -1, s))
        else:  # 4-path: labels along the path, canonical (≤ reversal)
            seq = [next(v for v in p.vertices if deg[v] == 1)]
            while len(seq) < 4:
                seq.append(
                    next(x for x in p.neighbours(seq[-1]) if x not in seq)
                )
            ls = [int(p.labels[v]) for v in seq]
            ls = min(ls, ls[::-1])
            rows.append(("path4", *ls, s))
    return spark.createDataFrame(
        rows, "pattern string, a int, b int, c int, d int, support long"
    )


def _q_exists_clique4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C7 existence short-circuit: Spark stops tasks once limit(1) is met
    from peregrine_spark.operators.patterns import match_pattern
    from peregrine_spark.plans.patterns import SmallGraph

    m = match_pattern(
        TD.copurchase_edges(spark, sf_dir), SmallGraph.clique(4), count_only=False
    )
    return m.limit(1).agg(F.count(F.lit(1)).alias("found"))


def _q_triangles_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C5 enumeration: materialized matches, deterministic sample
    from peregrine_spark.operators.patterns import match_pattern
    from peregrine_spark.plans.patterns import SmallGraph

    m = match_pattern(
        TD.copurchase_edges(spark, sf_dir), SmallGraph.clique(3), count_only=False
    )
    return m.orderBy("v1", "v2", "v3").limit(100)


def _q_motifs3_vi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peregrine_spark.operators.motifs import motif_counts

    out = motif_counts(
        spark, TD.copurchase_edges(spark, sf_dir), 3, vertex_induced=True
    )
    return out.select("motif", F.col("count").alias("n"))


def _q_star(k: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from peregrine_spark.operators.motifs import star_count

        return star_count(TD.copurchase_edges(spark, sf_dir), k)

    return q


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # CHEAPEST-FIRST: the driver's gate runs entries in dict order under
    # a wall-clock budget; round 4 truncated the last 3 (then-)dict-final
    # entries. Ordered by measured sf0.01 Spark+DuckDB cost ascending
    # (tools/check_oracles.py, 2026-08-17) so a budget cut can only ever
    # drop the heavy catalog tails, never cheap evidence.
    return {
        "doc_dup_stats": _q_dup_stats,
        "doc_token_stats": _q_token_stats,
        "emb_cosine_topk": _q_cosine_topk,
        "doc_lang_guess": _q_lang,
        "star5_count_copurchase": _q_star(5),
        "star3_count_copurchase": _q_star(3),
        "star4_count_copurchase": _q_star(4),
        "media_features": _q_media_features,
        "star2_count_copurchase": _q_star(2),
        "edge_labels_copurchase": _q_edge_labels,
        "partial_label_edges_copurchase": _q_partial_label_edges,
        "top_degree_copurchase": _q_top_degree,
        "doc_quality": _q_quality,
        "edges_events": _q_edges("events"),
        "triangles_sample_copurchase": _q_triangles_sample,
        "mni_edge_supports_copurchase": _q_mni_edge_supports,
        "degrees_copurchase": _q_degrees,
        "emb_lsh_probe_topk": _q_lsh_probe_topk,
        "emb_near_pairs_lsh": _q_emb_near_pairs_lsh,
        "labelled_triangle_copurchase": _q_labelled_triangle,
        "star2_labels_copurchase": _q_star2_labels,
        "stream_dedup_docs": _q_stream_dedup,
        "mni_star2_supports_events": _q_mni_star2_supports,
        "exists_clique4_copurchase": _q_exists_clique4,
        "motifs3_vi_copurchase": _q_motifs3_vi,
        "oriented_copurchase": _q_oriented,
        "edge_no_triangle_copurchase": _q_edge_no_triangle,
        "edges_copurchase": _q_edges("copurchase"),
        "lp_copurchase": _q_lp,
        "emb_near_pairs": _q_emb_near_pairs,
        "open_wedge_anti_copurchase": _q_open_wedge_anti,
        "triangles_per_vertex_copurchase": _q_triangles_per_vertex,
        "pagerank_copurchase": _q_pagerank,
        "stream_window_degrees": _q_stream_window_degrees,
        "doc_simhash_pairs": _q_simhash_pairs,  # rows-only (hash-dependent)
        "clique4_copurchase": _q_clique(4),
        "triangle_count_copurchase": _q_triangle_count,
        "clique5_copurchase": _q_clique(5),
        "cycle6_sparse_copurchase": _q_cycle6_sparse,
        "clique6_copurchase": _q_clique(6),
        "cycle4_copurchase": _q_cycle4,
        "doc_ngram_jaccard": _q_jaccard,
        "star3_labels_events": _q_star3_labels,
        "doc_minhash_pairs": _q_minhash_pairs,  # rows-only (hash-dependent)
        "fsm2_copurchase": _q_fsm2,
        "motifs4_vi_copurchase": _q_motifs4_vi,
        "cc_copurchase": _q_cc("copurchase"),
        "motifs5_vi_sparse_copurchase": _q_motifs5_vi_sparse,
        "cc_events": _q_cc("events"),
        "fsm3_mod8_copurchase": _q_fsm3,
        "motifs5_vi_mod4_copurchase": _q_motifs5_vi_mod4,
        "motifs6_vi_sparse_copurchase": _q_motifs6_vi_sparse,
        "motifs5_ei_dense10_copurchase": _q_motifs5_ei_dense10,
        "motifs7_ei_copurchase": _q_motifs7_ei,
        "motifs8_ei_copurchase": _q_motifs8_ei,
        "motifs9_ei_copurchase": _q_motifs9_ei,
    }


def _cycle6_oracle() -> str:
    from peregrine_spark.plans.patterns import SmallGraph

    return oracles.sparse_pattern_count_sql(SmallGraph.cycle(6), mod=16)


def oracle_sql() -> dict[str, str]:
    from peregrine_spark.plans import oracles_text as OT

    return {
        "edges_copurchase": oracles.edges_sql("copurchase"),
        "edges_events": oracles.edges_sql("events"),
        "degrees_copurchase": oracles.degrees_sql(),
        "top_degree_copurchase": oracles.top_degree_sql(100),
        "oriented_copurchase": oracles.oriented_sql(),
        "triangle_count_copurchase": oracles.triangle_count_sql(),
        "triangles_per_vertex_copurchase": oracles.triangles_per_vertex_sql(),
        "cc_copurchase": oracles.cc_sql("copurchase"),
        "cc_events": oracles.cc_sql("events"),
        "pagerank_copurchase": oracles.pagerank_sql(),
        "lp_copurchase": oracles.lp_sql(),
        "clique4_copurchase": oracles.clique4_count_sql(),
        "clique5_copurchase": oracles.clique_count_sql(5),
        "clique6_copurchase": oracles.clique_count_sql(6),
        "star2_count_copurchase": oracles.star_count_sql(2),
        "star3_count_copurchase": oracles.star_count_sql(3),
        "star4_count_copurchase": oracles.star_count_sql(4),
        "star5_count_copurchase": oracles.star_count_sql(5),
        "cycle6_sparse_copurchase": _cycle6_oracle(),
        "motifs3_vi_copurchase": oracles.motifs3_vi_sql(),
        "motifs4_vi_copurchase": oracles.motifs4_vi_sql(),
        "motifs5_vi_sparse_copurchase": oracles.motifs5_vi_sparse_sql(mod=32),
        "motifs5_vi_mod4_copurchase": oracles.motifs_vi_catalog_sql(5, mod=4),
        "motifs6_vi_sparse_copurchase": oracles.motifs_vi_catalog_sql(6, mod=16),
        "motifs5_ei_dense10_copurchase": oracles.motifs_ei_subset_sql(
            5, M5_DENSE10
        ),
        "motifs7_ei_copurchase": oracles.motifs_ei_subset_sql(
            7, list(M7_MODS), mod=M7_MODS
        ),
        "motifs8_ei_copurchase": oracles.motifs_ei_subset_sql(
            8, list(M8_MODS), mod=M8_MODS
        ),
        "motifs9_ei_copurchase": oracles.motifs_ei_subset_sql(
            9, list(M9_MODS), mod=M9_MODS
        ),
        "cycle4_copurchase": oracles.cycle4_count_sql(),
        "open_wedge_anti_copurchase": oracles.open_wedge_anti_sql(),
        "edge_no_triangle_copurchase": oracles.edge_no_triangle_sql(),
        "labelled_triangle_copurchase": oracles.labelled_triangle_sql(1, 2, 3),
        "partial_label_edges_copurchase": oracles.partial_label_edges_sql(13),
        "edge_labels_copurchase": oracles.edge_labels_sql(),
        "star2_labels_copurchase": oracles.star2_labels_sql(),
        "star3_labels_events": oracles.star3_labels_sql("events"),
        "mni_edge_supports_copurchase": oracles.mni_edge_supports_sql(),
        "mni_star2_supports_events": oracles.mni_star2_supports_sql("events"),
        "fsm2_copurchase": oracles.fsm2_sql(80),
        "fsm3_mod8_copurchase": oracles.fsm3_sql(
            FSM3_MIN_SUPPORT, "copurchase", FSM3_MOD
        ),
        "stream_dedup_docs": OT.stream_dedup_sql(),
        "exists_clique4_copurchase": oracles.exists_clique_sql(4),
        "triangles_sample_copurchase": oracles.triangles_sample_sql(100),
        "media_features": OT.media_features_sql(),
        "doc_token_stats": OT.token_stats_sql(),
        "doc_dup_stats": OT.dup_stats_sql(),
        "doc_quality": OT.quality_sql(),
        "doc_lang_guess": OT.lang_guess_sql(),
        "doc_ngram_jaccard": OT.ngram_jaccard_sql(3, 0.5),
        "emb_cosine_topk": OT.cosine_topk_sql(10),
        "emb_near_pairs": OT.near_pairs_sql(0.45),
        "emb_near_pairs_lsh": OT.near_pairs_lsh_sql(0.45, max_hamming=4),
        "emb_lsh_probe_topk": OT.lsh_probe_topk_sql(10, max_hamming=6),
        "stream_window_degrees": OT.stream_window_degrees_sql(),
    }
