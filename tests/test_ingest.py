"""Ingest roundtrip — mirrors the reference's DataConverter integration
test (/root/reference/core/integrationtests/DataConverter_test.hh:7-94):
synthesize, ingest, verify graph properties + row invariants."""

import hashlib

import numpy as np
from pyspark.sql import functions as F

from peregrine_spark.sources import ingest as ing
from peregrine_spark.sources.synth import _gen, synth_repo_files


def test_synth_deterministic():
    a = synth_repo_files(200, seed=42)
    b = synth_repo_files(200, seed=42)
    assert a.equals(b)
    c = synth_repo_files(200, seed=7)
    assert not a["content"].equals(c["content"])


def test_vertex_ids_collision_free(spark, tiny_repo_files):
    vm = ing.vertex_map(tiny_repo_files)
    n_ids = vm.select("id").distinct().count()
    n_files = vm.select("repo", "path").distinct().count()
    assert n_ids == n_files == 200


def test_sha256_row_invariant(spark, tiny_repo_files):
    """sha2(content,256) in the vertex_map equals hashlib on the raw rows —
    the BASELINE.json per-row invariant, checked row-for-row."""
    pdf = synth_repo_files(200, seed=42)
    expected = {
        (r.repo, r.path): hashlib.sha256(r.content.encode()).hexdigest()
        for r in pdf.itertuples()
    }
    got = ing.vertex_map(tiny_repo_files).select("repo", "path", "sha256").collect()
    assert len(got) == 200
    for row in got:
        assert expected[(row.repo, row.path)] == row.sha256


def test_edges_match_ground_truth(spark, tiny_repo_files):
    """Parsed edges == the generator's ground-truth pairs (self-loops
    dropped, deduped), mapped through the same vertex hash."""
    pdf = synth_repo_files(200, seed=42)
    pairs = _gen(200, 42)[1]
    # ground truth via Spark's own xxhash64 on the (repo, path) table
    key_df = spark.createDataFrame(pdf[["repo", "path"]])
    id_rows = key_df.select(
        "repo", "path", ing.vertex_id(F.col("repo"), F.col("path")).alias("id")
    ).collect()
    idx_to_id = {}
    keypos = {(r.repo, r.path): r.id for r in id_rows}
    for i, t in enumerate(pdf.itertuples()):
        idx_to_id[i] = keypos[(t.repo, t.path)]
    expected = {(idx_to_id[a], idx_to_id[b]) for a, b in pairs}
    expected = {(s, d) for s, d in expected if s != d}

    got = {(r.src, r.dst) for r in ing.extract_edges(tiny_repo_files).collect()}
    assert got == expected


def test_no_self_loops_and_deduped(spark, tiny_repo_files):
    e = ing.extract_edges(tiny_repo_files)
    assert e.filter(F.col("src") == F.col("dst")).count() == 0
    assert e.count() == e.distinct().count()


def test_malformed_refs_tolerated(spark):
    """An #include target without the repo|path separator must be skipped,
    not crash the ANSI-mode split (regression: INVALID_ARRAY_INDEX)."""
    from peregrine_spark.sources.ingest import extract_edges

    mal = spark.createDataFrame(
        [
            ("o/r", "p1", "c", "py", '#include "no-separator"\n#include "o/r|p2"'),
            ("o/r", "p2", "c", "py", '#include ""'),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    assert extract_edges(mal).count() == 1


def test_skewed_degree_distribution():
    """zipf targets must produce genuine hubs (skew the hub-split joins
    handle): max in-degree far above the mean."""
    pairs = _gen(5000, 42)[1]
    _, cnt = np.unique(pairs[:, 1], return_counts=True)
    assert cnt.max() > 20 * cnt.mean()
