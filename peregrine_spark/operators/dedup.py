"""Deduplication operators for large-scale text/document corpora.

Exact dedup is a hash groupBy; near-dup is MinHash+LSH (shingle → minhash
→ band → bucket-join), SimHash, and n-gram Jaccard verification. All hash
computation is JVM-side (xxhash64/sha2 + array functions); the only
Python is driver-side parameter generation. Designed so the candidate-pair
stage shuffles on small band keys, never on raw text.

Scale notes: LSH bucket join self-joins only within buckets — the shuffle
key is (band, band_hash), and a pathological bucket (boilerplate docs) is
capped via `max_bucket` to bound the quadratic blowup, mirroring the
hub-splitting philosophy of the link-graph layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: with a, b, x all < 2^31, a*x + b < 2^62 stays in
# int64 under ANSI arithmetic (a 61-bit prime would overflow the multiply).
_P = (1 << 31) - 1


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical text."""
    w_hash = df.withColumn("_h", F.sha2(F.col(text_col), 256))
    keep = w_hash.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return w_hash.join(keep, ["_h", id_col], "left_semi").drop("_h")


def shingles(
    df: DataFrame, text_col: str = "text", k: int = 5, token_pattern: str | None = None
) -> DataFrame:
    """Adds `shingle_hashes`: distinct xxhash64 of k-word shingles.
    Default tokenization = lowercase single-space split (oracle-portable);
    pass token_pattern (e.g. r"[^\\p{L}\\p{N}]+") for regex tokenization."""
    toks = F.split(F.lower(F.col(text_col)), token_pattern or " ")
    toks = F.filter(toks, lambda t: t != "")
    n = F.size(toks)
    idxs = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idxs, lambda i: F.xxhash64(F.concat_ws("\x1f", F.slice(toks, i + 1, k)))
    )
    # degenerate docs (< k tokens): one shingle over all tokens
    sh = F.when(n >= k, sh).otherwise(
        F.array(F.xxhash64(F.concat_ws("\x1f", toks)))
    )
    return df.withColumn("shingle_hashes", F.array_distinct(sh))


def _minhash_params(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(n_hashes)]


def minhash_signature(
    df: DataFrame,
    n_hashes: int = 64,
    seed: int = 42,
    col: str = "shingle_hashes",
    id_col: str | None = None,
) -> DataFrame:
    """Adds `sig`: array of n_hashes minhash values, permutation hashes
    h_i(x) = (a_i * x + b_i) mod P over the shingle hash.

    With `id_col` (the fast path — minhash_dedup_pairs uses it): the
    shingle arrays EXPLODE once and all n_hashes minima aggregate as
    plain codegen columns (map-side combinable groupBy + one join back).
    Higher-order array functions are interpreted per ELEMENT in Spark —
    64 nested transforms over each array cost ~0.1 s/row of pure
    expression-walk overhead (measured: the 500-doc gate spent 50+ s in
    them); the exploded aggregation is the same math in whole-stage
    codegen. The HOF form remains for id-less callers; the values are
    identical (left join ⇒ empty/NULL shingle arrays still yield
    all-NULL signatures)."""
    params = _minhash_params(n_hashes, seed)
    if id_col is not None:
        ex = df.select(
            F.col(id_col).alias("_mh_id"), F.explode(col).alias("_x")
        )
        base = F.pmod(F.col("_x"), F.lit(_P))
        mins = ex.groupBy("_mh_id").agg(
            *[
                F.min(
                    F.pmod(
                        F.pmod(F.lit(a) * base, F.lit(_P)) + F.lit(b), F.lit(_P)
                    )
                ).alias(f"_m{i}")
                for i, (a, b) in enumerate(params)
            ]
        )
        out = df.join(
            mins.withColumnRenamed("_mh_id", id_col), id_col, "left"
        )
        sig = F.array(*[F.col(f"_m{i}") for i in range(n_hashes)])
        return out.withColumn("sig", sig).drop(
            *[f"_m{i}" for i in range(n_hashes)]
        )
    base = F.transform(F.col(col), lambda x: F.pmod(x, F.lit(_P)))

    def perm(a: int, b: int):
        # factory closure: PySpark infers lambda arity from the signature,
        # so captured constants must not appear as default parameters
        return lambda x: F.pmod(
            F.pmod(F.lit(a) * x, F.lit(_P)) + F.lit(b), F.lit(_P)
        )

    sig = F.array(
        *[F.array_min(F.transform(base, perm(a, b))) for a, b in params]
    )
    return df.withColumn("sig", sig)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 200,
) -> DataFrame:
    """(a, b) candidate near-dup pairs: docs sharing ≥1 LSH band bucket.
    Bands hash `rows_per_band` consecutive signature values; the self-join
    runs per (band, bucket). Buckets larger than max_bucket are dropped
    (boilerplate guard) — at 100 TB a single degenerate bucket would
    otherwise produce O(bucket²) pairs in one task."""
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("sig").getItem(i * rows_per_band + j).cast("string")
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for i in range(n_bands)
        ]
    )
    exploded = (
        df.select(F.col(id_col).alias("id"), bands.alias("bands"))
        .select("id", F.explode("bands").alias("b"))
        .select("id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))
    )
    # bucket-size guard via aggregate + semi-join instead of a window:
    # the window plan SORTED the whole exploded table inside each
    # partition (n_docs × n_bands rows); the groupBy is map-side
    # combinable and the semi-join shuffles on the same (band, bucket)
    # key the pair join needs anyway (guide §2.4)
    ok_buckets = (
        exploded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .select("band", "bucket")
    )
    sized = exploded.join(ok_buckets, ["band", "bucket"], "left_semi")
    a = sized.select("band", "bucket", F.col("id").alias("a"))
    b = sized.select("band", "bucket", F.col("id").alias("b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """(a, b, jaccard) for candidate pairs with true n-gram Jaccard ≥
    threshold — exact verification via array_intersect/array_union on the
    shingle-hash sets (the adversarial-check stage after LSH recall).

    The candidate set is usually tiny next to the corpus, so the
    shingled table is first cut down by a semi-join on the candidate ids
    — at corpus scale the heavy shingle arrays of non-candidate docs
    never enter the pair joins' shuffles (guide §3.2: reduce the big
    side before shuffling it; inner joins make the prefilter exact).
    The semi-join is not hinted: AQE broadcasts the id set when its
    measured size is under ``autoBroadcastJoinThreshold`` and shuffles
    it otherwise, since a candidate set can grow with the corpus."""
    cand_ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sh = shingled.join(cand_ids, id_col, "left_semi")
    sa = sh.select(F.col(id_col).alias("a"), F.col("shingle_hashes").alias("sa"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("shingle_hashes").alias("sb"))
    j = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
    n_hashes: int = 64,
    n_bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → sign → band →
    bucket-join → exact Jaccard verify. Returns (a, b, jaccard)."""
    sh = shingles(df.select(id_col, text_col), text_col, k_shingle)
    sig = minhash_signature(sh, n_hashes, seed, id_col=id_col)
    cand = lsh_candidate_pairs(sig, id_col, n_bands, n_hashes // n_bands)
    return jaccard_verify(cand, sh, id_col, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(a, b, jaccard): ALL pairs with k-shingle Jaccard ≥ threshold —
    exact quadratic baseline (the oracle-checkable ground truth that the
    LSH pipelines approximate). Use only on bounded inputs; at corpus
    scale use minhash_dedup_pairs."""
    sh = shingles(df.select(id_col, text_col), text_col, k)
    a = sh.select(F.col(id_col).alias("a"), F.col("shingle_hashes").alias("sa"))
    b = sh.select(F.col(id_col).alias("b"), F.col("shingle_hashes").alias("sb"))
    j = (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return j


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    id_col: str | None = None,
) -> DataFrame:
    """Adds `simhash`: 64-bit SimHash over word tokens — per-bit majority
    vote of token hashes.

    With `id_col` (fast path): tokens explode once and the 64 per-bit
    vote sums aggregate as plain codegen columns (map-side combinable) —
    the 64 per-bit F.aggregate folds are interpreted per element and
    dominated the 500-doc gate (same pathology as minhash_signature).
    Values identical, including NULL text → NULL simhash and token-less
    text → 0."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^\p{L}\p{N}]+"), lambda t: t != ""
    )
    import functools
    import operator

    def bit_from_votes(votes, i: int):
        bit_val = (1 << i) if i < 63 else -(1 << 63)  # signed-long wrap for bit 63
        return F.when(votes > 0, F.lit(bit_val).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    if id_col is not None:
        ex = df.select(
            F.col(id_col).alias("_sh_id"), F.explode(toks).alias("_t")
        ).select("_sh_id", F.xxhash64("_t").alias("_h"))
        votes = ex.groupBy("_sh_id").agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1,
                        1,
                    ).otherwise(-1)
                ).alias(f"_v{i}")
                for i in range(bits)
            ]
        )
        out = df.join(votes.withColumnRenamed("_sh_id", id_col), id_col, "left")
        sh = functools.reduce(
            operator.add,
            [bit_from_votes(F.col(f"_v{i}"), i) for i in range(bits)],
        )
        # parity with the fold form: NULL votes (token-less or NULL text
        # — both fold to 0 in the HOF form since when(NULL > 0) takes
        # the otherwise branch) yield 0 here identically
        return out.withColumn("simhash", sh).drop(
            *[f"_v{i}" for i in range(bits)]
        )
    th = F.transform(toks, lambda t: F.xxhash64(t))

    def voter(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_exprs = []
    for i in range(bits):
        votes = F.aggregate(th, F.lit(0), voter(i))
        bit_exprs.append(bit_from_votes(votes, i))
    sh = functools.reduce(operator.add, bit_exprs)
    return df.withColumn("simhash", sh)


def simhash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, n_blocks: int = 4
) -> DataFrame:
    """(a, b, hamming) pairs with Hamming(simhash) ≤ max_hamming, found by
    block-permutation LSH: split the 64-bit hash into n_blocks 16-bit
    blocks; any pair within distance max_hamming < n_blocks shares ≥ one
    exact block (pigeonhole) — bucket-join on (block_idx, block_value)."""
    width = 64 // n_blocks
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bv"),
            )
            for i in range(n_blocks)
        ]
    )
    ex = (
        df.select(F.col(id_col).alias("id"), F.col("simhash"), blocks.alias("bs"))
        .select("id", "simhash", F.explode("bs").alias("b"))
        .select("id", "simhash", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    )
    a = ex.select("bi", "bv", F.col("id").alias("a"), F.col("simhash").alias("ha"))
    b = ex.select("bi", "bv", F.col("id").alias("b"), F.col("simhash").alias("hb"))
    pairs = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)
