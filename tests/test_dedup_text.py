"""Dedup (exact / MinHash-LSH / SimHash), text analysis, similarity, and
multimodal plumbing — correctness on constructed corpora with known
answers, plus real-table smoke on /root/testdata documents/embeddings."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from peregrine_spark.operators import dedup as D
from peregrine_spark.operators import similarity as S
from peregrine_spark.operators import text as TX
from tests.test_plan_shape import plan_shape


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the long field"
    rows = [
        (1, base, "en"),
        (2, base, "en"),  # exact dup of 1
        (3, base.replace("lazy", "sleepy"), "en"),  # near dup of 1
        (4, "völlig anderes dokument über der hund und die katze im haus", "de"),
        (5, "short text", "en"),
        (6, "le chat et le chien dans la maison près de la rivière", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_duplicates(spark, docs):
    kept = D.dedup_exact(docs)
    assert kept.count() == 5
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4, 5, 6}


def test_shingles_and_jaccard(spark, docs):
    sh = D.shingles(docs, k=3)
    row = {r.doc_id: r.shingle_hashes for r in sh.collect()}
    assert row[1] == row[2]  # identical docs, identical shingle sets
    assert len(set(row[1]) & set(row[3])) > 0  # near dups share shingles
    assert len(row[5]) == 1  # degenerate short doc


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = D.minhash_dedup_pairs(docs, k_shingle=3, threshold=0.5)
    got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # exact dup found with jaccard 1
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert not any({a, b} & {4, 5, 6} for a, b in got)  # no false positives


def test_jaccard_verify_prefilter_obeys_broadcast_threshold(spark, docs):
    # the candidate-id semi-join carries no broadcast hint: with automatic
    # broadcasts off, no join of the pipeline broadcasts, and the answers
    # are the same as with them on
    def run():
        return sorted(D.minhash_dedup_pairs(docs, k_shingle=3, threshold=0.5).collect())

    want = run()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got = []
        shape = plan_shape(spark, lambda: got.extend(run()))
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" not in shape
    assert got == want
    assert (want[0].a, want[0].b, want[0].jaccard) == (1, 2, 1.0)


def test_minhash_is_deterministic(spark, docs):
    a = D.minhash_signature(D.shingles(docs, k=3), n_hashes=16, seed=7)
    b = D.minhash_signature(D.shingles(docs, k=3), n_hashes=16, seed=7)
    assert a.select("doc_id", "sig").collect() == b.select("doc_id", "sig").collect()


def test_keyed_fast_paths_match_hof(spark, docs):
    """The exploded codegen fast paths (id_col given) must produce
    byte-identical signatures to the HOF array-fold forms they replace."""
    sh = D.shingles(docs, k=3)
    slow = {
        r.doc_id: r.sig
        for r in D.minhash_signature(sh, n_hashes=16, seed=7).collect()
    }
    fast = {
        r.doc_id: r.sig
        for r in D.minhash_signature(
            sh, n_hashes=16, seed=7, id_col="doc_id"
        ).collect()
    }
    assert slow == fast
    hs = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    hf = {r.doc_id: r.simhash for r in D.simhash(docs, id_col="doc_id").collect()}
    assert hs == hf


def test_simhash_near_pairs(spark, docs):
    h = D.simhash(docs)
    vals = {r.doc_id: r.simhash for r in h.collect()}
    assert vals[1] == vals[2]
    ham13 = bin(vals[1] ^ vals[3]).count("1")
    ham14 = bin(vals[1] ^ vals[4]).count("1")
    assert ham13 < ham14  # near dup closer than unrelated doc
    pairs = D.simhash_near_pairs(h, max_hamming=3)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (1, 2) in got


def test_token_stats_and_quality(spark, docs):
    stats = TX.with_token_stats(docs).collect()
    by_id = {r.doc_id: r for r in stats}
    assert by_id[5].n_tokens == 2
    assert by_id[1].n_tokens == len(by_id[1].text.split())
    q = TX.quality_score(docs).collect()
    for r in q:
        assert 0.0 <= r.quality <= 1.0
    qd = {r.doc_id: r for r in q}
    assert qd[1].stopword_ratio > qd[4].stopword_ratio  # english stopwords


def test_language_id(spark, docs):
    lid = {r.doc_id: r.lang_guess for r in TX.language_id(docs).collect()}
    assert lid[1] == "en"
    assert lid[4] == "de"
    assert lid[6] == "fr"


def test_fingerprint_stability(spark, docs):
    fp = {r.doc_id: r.fingerprint for r in TX.fingerprint(docs, window=3).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]


# ------------------------------------------------------------- similarity
def test_cosine_topk_vs_numpy(spark):
    rng = np.random.default_rng(42)
    mat = rng.normal(size=(200, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(200)], "vec_id long, embedding array<float>"
    )
    q = mat[0].tolist()
    got = [(r.vec_id, r.cosine) for r in S.cosine_topk(df, q, k=10).collect()]
    sims = (mat @ mat[0]) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(mat[0]))
    want = np.argsort(-sims)[:10].tolist()
    assert [g[0] for g in got] == want
    assert abs(got[0][1] - 1.0) < 1e-6  # self-similarity


def test_lsh_topk_recalls_self_and_near(spark):
    rng = np.random.default_rng(1)
    base = rng.normal(size=16).astype(np.float32)
    rows = [(0, base.tolist()), (1, (base + 0.01 * rng.normal(size=16).astype(np.float32)).tolist())]
    rows += [(i, rng.normal(size=16).astype(np.float32).tolist()) for i in range(2, 100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sk = S.hyperplane_sketch(df, dim=16, n_planes=16)
    qsk = sk.filter(F.col("vec_id") == 0).collect()[0].sketch
    got = [r.vec_id for r in S.lsh_topk(sk, base.tolist(), qsk, k=2, max_hamming=2).collect()]
    assert got[0] == 0 and 1 in got


def test_lsh_index_probe_matches_scan(spark, tmp_path):
    """write_lsh_index + lsh_probe_topk must return the same ids as the
    scan-with-filter path (same sketch, same Hamming ball, same re-rank),
    and the probe's scan must be partition-pruned to the bucket ring."""
    rng = np.random.default_rng(5)
    base = rng.normal(size=16).astype(np.float32)
    rows = [(0, base.tolist())]
    rows += [(i, rng.normal(size=16).astype(np.float32).tolist()) for i in range(1, 150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "lsh_index")
    S.write_lsh_index(df, path, dim=16, n_planes=16, max_hamming=2)
    q = base.tolist()
    sk = S.hyperplane_sketch(df, dim=16, n_planes=16)
    qsk = sk.filter(F.col("vec_id") == 0).collect()[0].sketch
    scan = [r.vec_id for r in S.lsh_topk(sk, q, qsk, k=5, max_hamming=2).collect()]
    probe_df = S.lsh_probe_topk(spark, path, q, k=5, n_planes=16, max_hamming=2)
    probe = [r.id for r in probe_df.collect()]
    assert probe == scan
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bi" in plan


def test_embedding_near_pairs(spark):
    rng = np.random.default_rng(3)
    a = rng.normal(size=16).astype(np.float32)
    rows = [(0, a.tolist()), (1, (a * 2.0).tolist())]  # cosine exactly 1
    rows += [(i, rng.normal(size=16).astype(np.float32).tolist()) for i in range(2, 50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = S.embedding_near_pairs(df, dim=16, threshold=0.95, max_hamming=2)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got


def test_embedding_near_pairs_one_bit_per_half(spark):
    """Regression (round-1 verdict): a pair whose sketches differ by ONE
    bit in EACH half of the 16-bit sketch is inside the Hamming-2 ball but
    shares neither half — the old 2-block join dropped it. The pigeonhole-
    correct max_hamming+1 = 3 block split must recall it."""
    import random

    rnd = random.Random(42)  # mirror hyperplane_sketch's plane generation
    planes = np.array(
        [[rnd.gauss(0.0, 1.0) for _ in range(16)] for _ in range(16)]
    )
    rng = np.random.default_rng(7)
    found = None
    for _ in range(2000):
        a = rng.normal(size=16)
        b = a + 0.3 * rng.normal(size=16)
        a32 = a.astype(np.float32).astype(np.float64)
        b32 = b.astype(np.float32).astype(np.float64)
        da, db = planes @ a32, planes @ b32
        if min(np.abs(da).min(), np.abs(db).min()) < 1e-3:
            continue  # sign too close to flip under float32 rounding
        diff = (da > 0) != (db > 0)
        cos = a32 @ b32 / (np.linalg.norm(a32) * np.linalg.norm(b32))
        if diff.sum() == 2 and diff[:8].sum() == 1 and diff[8:].sum() == 1 and cos >= 0.9:
            found = (a32, b32)
            break
    assert found is not None, "no planted pair found — loosen the search"
    rows = [(0, found[0].astype(np.float32).tolist()), (1, found[1].astype(np.float32).tolist())]
    rows += [(i, rng.normal(size=16).astype(np.float32).tolist()) for i in range(2, 30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = S.embedding_near_pairs(df, dim=16, threshold=0.9, max_hamming=2)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got


def test_embedding_near_pairs_exact_vs_numpy(spark):
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(60, 8))
    df = spark.createDataFrame(
        [(i, mat[i].astype(np.float32).tolist()) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    m32 = mat.astype(np.float32).astype(np.float64)
    norms = np.linalg.norm(m32, axis=1)
    sims = (m32 @ m32.T) / np.outer(norms, norms)
    want = {
        (i, j)
        for i in range(60)
        for j in range(i + 1, 60)
        if sims[i, j] >= 0.5
    }
    got = {
        (r.a, r.b)
        for r in S.embedding_near_pairs_exact(df, threshold=0.5).collect()
    }
    assert got == want and len(want) > 0


# ------------------------------------------------------------- real tables
def test_real_documents_smoke(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = TX.quality_score(TX.language_id(TX.with_token_stats(docs)))
    rows = out.select("doc_id", "n_tokens", "quality", "lang_guess").collect()
    assert len(rows) == docs.count()
    assert all(r.n_tokens > 0 for r in rows)


def test_real_embeddings_topk(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.orderBy("vec_id").first()
    top = S.cosine_topk(emb, [float(x) for x in q.embedding], k=5).collect()
    assert top[0].vec_id == q.vec_id  # self is nearest
    assert len(top) == 5
