"""Deduplication operators for training-data pipelines over ``documents``.

Five families (SURVEY-mandated training-data ops):

* exact dedup — hash-groupBy on the md5 fingerprint; one shuffle,
  map-side partial agg for free.
* n-gram Jaccard near-dup — character-3-gram shingle sets; pairs with
  Jaccard >= threshold via a blocked dense matmul over the alphabet^3-
  bounded gram-incidence matrix (float32 BLAS, exact for counts <
  2^24).  Exact (oracle-checked); intentionally all-pairs — the
  small-N verifier for the scalable MinHash path.
* MinHash+LSH near-dup — 64 xxhash64-seeded min-hashes, banded LSH
  buckets generate candidates, exact Jaccard verifies (see LSH_BANDS
  note below on the recall/cost knob).  Two shingle modes: char-3-gram
  (reference-style, the small-N verifier) and word-3-shingle (Broder
  w-shingling — the scale path; see the note above _shingles_words).
* SimHash — 60-bit token-vote hash in pure JVM Column math (md5-nibble
  token hashing, identical in DuckDB -> oracle-checked); pairs within
  Hamming distance <= d via 4x15-bit band blocking.
* embedding cosine near-dup — see operators/similarity.py.

The near-dup queries run over a corpus UNION'd with deterministic
truncated variants of each document (same derivation in Spark and
DuckDB), so the oracle checks real pairs, not an empty set — the raw
synthetic corpus has no near-duplicates.
"""

import atexit
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..io_scan import read_sf

# Reset connected_components' checkpoint-inherited plan statistics via
# a scratch-parquet round trip every N rounds (see the docstring) —
# rarely reached: near-dup clusters converge in a handful of rounds.
_CC_STATS_RESET_EVERY = 4


def _kernel_parallelism(df: DataFrame) -> int:
    """Explicit partition count for the exchanges feeding the dense-
    matmul kernels: the rows are few-but-heavy (block/bucket rows
    whose UDF compute dwarfs their bytes), so a column-only
    repartition would let AQE's byte-based coalescing fold them onto
    a handful of cores.  Both knobs scale with deployment size."""
    sess = df.sparkSession
    return max(sess.sparkContext.defaultParallelism,
               int(sess.conf.get("spark.sql.shuffle.partitions", "200")))

JACCARD_THRESHOLD = 0.6
# Target docs per block of the exact-ngram blocked matmul: one block
# pair's work is O(block^2 * vocab) SIMD flops and its task row ships
# two blocks' index arrays (~block * shingles/doc * 8 bytes).  1024
# keeps rows ~MB-scale and yields nb(nb+1)/2 >> cores tasks once the
# corpus outgrows a handful of blocks.
_NGRAM_BLOCK = 1024
MINHASH_PERMS = 64
# 32 bands x 2 rows: P(candidate | j) = 1-(1-j^2)^32; at the 0.6
# threshold the miss probability is (1-0.36)^32 ~= 6e-7 per pair, so
# the verified LSH output equals the exact pair set deterministically
# on the gate corpora (driver oracle asserts exact equality at sf0.01;
# equality also verified at sf0.1 — round 3 halved the width from
# 128/64x2, whose 4e-13 margin bought nothing but double the hash
# compute and banding volume).  2-row bands are the high-recall end of
# the knob; 4-row bands measurably MISS threshold-adjacent pairs here
# ((1-j^4)^32 ~= 1e-2 at j=0.6 — one real pair lost at sf0.01), so
# keep rows=2 and trade width instead.
LSH_BANDS = 32

# corpus with injected near-duplicates: every doc also appears truncated
# to its first ~80% of characters under doc_id + 1_000_000
_AUG_SPARK = """
SELECT doc_id, lower(regexp_replace(trim(text), '\\\\s+', ' ')) AS nt FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       substring(lower(regexp_replace(trim(text), '\\\\s+', ' ')), 1,
                 CAST(length(lower(regexp_replace(trim(text), '\\\\s+', ' '))) * 4 / 5 AS INT)) AS nt
FROM documents
"""

_AUG_DUCK = """
SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       substring(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1,
                 CAST(length(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) * 4 // 5 AS INT)) AS nt
FROM documents
"""


def _augmented(spark: SparkSession, sf_dir: str,
               spread: bool = False) -> DataFrame:
    docs = read_sf(spark, sf_dir, "documents", spread=spread)
    docs.createOrReplaceTempView("documents")
    return spark.sql(_AUG_SPARK)


# Shingle construction note: a naive `transform(sequence(...), i ->
# substring(nt, i, 3))` inlines the upstream nt expression (trim +
# regexp_replace + lower) into EVERY lambda element after Catalyst's
# project collapsing — O(doc_length) regex evaluations per document.
# Both shingle builders therefore reference the element array only a
# constant number of times per ROW: three slices zipped, one transform.

def _sliding3(arr: str, joiner: str) -> str:
    """SQL for 3-grams of array column ``arr`` via arrays_zip of three
    slices (constant references to ``arr`` per row)."""
    n = f"size({arr})"
    zipped = (f"arrays_zip(slice({arr}, 1, {n} - 2), "
              f"slice({arr}, 2, {n} - 2), slice({arr}, 3, {n} - 2))")
    return (f"CASE WHEN {n} >= 3 THEN "
            f"transform({zipped}, s -> {joiner}) ELSE array() END")


def _char_shingle_arrays(df: DataFrame) -> DataFrame:
    """One row per doc: (doc_id, shs) with shs the doc's DISTINCT
    char-3-gram array — JVM higher-order functions, no Python.
    Distinctness comes from ``array_distinct`` on the per-row shingle
    array: doc_id is unique per input row, so within-row dedup IS
    global dedup — and it costs zero shuffles where ``.distinct()``
    after an explode shuffled the whole shingle table."""
    return (df
            .withColumn("_ch", F.split(F.col("nt"), ""))
            .withColumn("sh", F.expr(
                _sliding3("_ch", "concat(s['0'], s['1'], s['2'])")))
            .select("doc_id", F.array_distinct("sh").alias("shs")))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over the augmented corpus: fingerprint ->
    (representative doc_id, group size).  Truncated docs never collide
    with originals, so groups of size 1 dominate; the query shape is the
    point (hash-groupBy with partial agg)."""
    aug = _augmented(spark, sf_dir)
    return (aug.groupBy(F.md5("nt").alias("fingerprint"))
               .agg(F.min("doc_id").alias("keep_doc_id"),
                    F.count(F.lit(1)).alias("n_copies")))


def sql_dedup_exact() -> str:
    return f"""
    WITH aug AS ({_AUG_DUCK})
    SELECT md5(nt) AS fingerprint, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM aug GROUP BY md5(nt)
    """


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (the oracle-checkable near-dup)
# ---------------------------------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard pair set at the 0.6 threshold — the
    brute-force twin the LSH variant is oracle-checked against (this
    operator is intentionally all-pairs, like `ann_bruteforce`; the
    scale path is `dedup_minhash_lsh`).

    Shape: blocked dense matmul over the gram-incidence matrix.  The
    char-3-gram vocabulary is alphabet^3-BOUNDED (377 distinct grams
    in this corpus; median df 1939 of 10k docs), which breaks every
    posting-list algorithm: the previous exploded self-join on the
    shingle emitted sum_g df_g^2/2 = 4.03 BILLION rows at sf0.1 and
    ran >25 min on two post-AQE partitions, and a df-ordered prefix
    filter cannot help because even the rarest grams have df in the
    hundreds.  Instead each doc becomes a 0/1 row over the vocab;
    |A n B| for a whole block pair is ONE float32 BLAS matmul
    (exact: counts <= doc length << 2^24).  Docs hash into
    ~`_NGRAM_BLOCK`-sized blocks, every unordered block pair is one
    task row carrying both blocks' index arrays, so the 75 GFLOP
    total runs as nb(nb+1)/2 independent SIMD tasks — no shingle-row
    shuffle at all.  The Jaccard test is exact integer cross-
    multiplication (5*common >= 3*union, union > 0), equivalent to
    the oracle's float compare at any feasible set size.  Output is
    the identical pair set; the brute-force oracle SQL is unchanged."""
    aug = _augmented(spark, sf_dir, spread=True)
    arrs = _char_shingle_arrays(aug)
    docs = _gram_index_docs(arrs)
    # Block count from the parquet metadata row count (x2 for the
    # union'd truncated variants) — an upper bound on shingled docs is
    # all block sizing needs, and it avoids re-running the shingle
    # pipeline for an exact count.
    n_docs = 2 * read_sf(spark, sf_dir, "documents").count()
    nb = max(1, -(-n_docs // _NGRAM_BLOCK))
    blocked = (docs
               .withColumn("_b", F.pmod(F.xxhash64("doc_id"), F.lit(nb)))
               .groupBy("_b")
               .agg(F.collect_list(F.struct("doc_id", "_idxs"))
                    .alias("_docs")))
    bp = (blocked.select(F.col("_b").alias("_bi"),
                         F.col("_docs").alias("_da"))
          .join(blocked.select(F.col("_b").alias("_bj"),
                               F.col("_docs").alias("_db")),
                F.col("_bi") <= F.col("_bj"))
          .repartition(_kernel_parallelism(docs), "_bi", "_bj"))

    def _block_pairs(batches):
        for pdf in batches:
            for r in range(len(pdf)):
                same = pdf["_bi"].iat[r] == pdf["_bj"].iat[r]
                da, db = pdf["_da"].iat[r], pdf["_db"].iat[r]
                ida = np.asarray([d["doc_id"] for d in da], dtype=np.int64)
                idb = np.asarray([d["doc_id"] for d in db], dtype=np.int64)
                ia = [np.asarray(d["_idxs"], dtype=np.int64) for d in da]
                ib = [np.asarray(d["_idxs"], dtype=np.int64) for d in db]
                lo, hi = _jaccard_block_kernel(ida, ia, idb, ib, same)
                yield pd.DataFrame({"doc_a": lo, "doc_b": hi})

    return bp.mapInPandas(_block_pairs, "doc_a long, doc_b long")


def _gram_index_docs(arrs: DataFrame) -> DataFrame:
    """(doc_id, _idxs): each doc's distinct shingles as GLOBAL vocab
    indices (row_number over the sorted distinct-gram table) — the
    input format of the dense-matmul Jaccard kernels.  Docs with no
    shingles are absent, matching the exploded-join shape."""
    sh = arrs.select("doc_id", F.explode("shs").alias("shingle"))
    vocab = (sh.select("shingle").distinct()
             .withColumn("_vid", F.row_number().over(
                 Window.orderBy("shingle")) - 1))
    return (sh.join(vocab, "shingle")
            .groupBy("doc_id").agg(F.collect_list("_vid").alias("_idxs")))


def _jaccard_block_kernel(ida, ia, idb, ib, same, vchunk=16384):
    """Exact-Jaccard >= 3/5 pairs between two doc blocks given their
    gram-index arrays: |A n B| for the whole block pair is a float32
    BLAS matmul over 0/1 incidence matrices (exact below 2^24), the
    threshold test is integer cross-multiplication (equivalent to the
    oracle's float compare at any feasible set size).  Returns
    (doc_a, doc_b) id arrays with doc_a < doc_b; ``same=True`` keeps
    the strict upper triangle of a self block."""
    sza = np.asarray([len(x) for x in ia], dtype=np.int64)
    szb = np.asarray([len(x) for x in ib], dtype=np.int64)
    ra = np.repeat(np.arange(len(ia)), sza)
    ca = np.concatenate(ia) if ia else np.empty(0, np.int64)
    rb = np.repeat(np.arange(len(ib)), szb)
    cb = np.concatenate(ib) if ib else np.empty(0, np.int64)
    common = np.zeros((len(ia), len(ib)), dtype=np.float32)
    # local vocab extent: indices beyond either block's max
    # contribute nothing to the intersection counts
    ext = int(max(ca.max(initial=-1), cb.max(initial=-1))) + 1
    for c0 in range(0, ext, vchunk):
        c1 = min(c0 + vchunk, ext)
        ma = (ca >= c0) & (ca < c1)
        mb = (cb >= c0) & (cb < c1)
        a = np.zeros((len(ia), c1 - c0), dtype=np.float32)
        b = np.zeros((len(ib), c1 - c0), dtype=np.float32)
        a[ra[ma], ca[ma] - c0] = 1.0
        b[rb[mb], cb[mb] - c0] = 1.0
        common += a @ b.T
    c = common.astype(np.int64)
    union = sza[:, None] + szb[None, :] - c
    hit = (union > 0) & (5 * c >= 3 * union)
    if same:
        hit &= ida[:, None] < idb[None, :]
    else:
        hit &= ida[:, None] != idb[None, :]
    ii, jj = np.nonzero(hit)
    return np.minimum(ida[ii], idb[jj]), np.maximum(ida[ii], idb[jj])


_SQL_SHINGLES = """
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, greatest(length(nt) - 2, 0)),
                                 i -> substr(nt, CAST(i AS INT), 3))) AS shingle
    FROM aug
"""


def sql_dedup_ngram_jaccard() -> str:
    return f"""
    WITH aug AS ({_AUG_DUCK}),
    sh AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common / CAST(sa.sz + sb.sz - common AS DOUBLE) >= {JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path; verified candidates == exact pair set)
# ---------------------------------------------------------------------------

def minhash_signatures(arrs: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, h0..h{perms-1}): min over the doc's distinct shingles
    of xxhash64(shingle, seed p) for each permutation p — explode the
    per-doc array, aggregate ``perms`` mins.  All JVM-side; the
    groupBy's map-side partial agg folds every shingle into 64 codegen
    agg buffers in ONE traversal, so the shuffle carries only one
    64-column row per doc.  (A zero-shuffle alternative — 64
    array_min(transform(shs, ...)) projections — measured ~30% SLOWER
    at sf0.1: each ArrayTransform materializes an intermediate hash
    array per row, 64 allocations/row vs the agg buffers' none.)
    The signature stays as WIDE columns, not an array: banding indexes
    into it, and Catalyst's project collapsing would otherwise inline
    the array construction into every subscript."""
    sh = arrs.select("doc_id", F.explode("shs").alias("shingle"))
    mins = [F.min(F.xxhash64(F.col("shingle"), F.lit(p))).alias(f"h{p}")
            for p in range(perms)]
    return sh.groupBy("doc_id").agg(*mins)


def lsh_candidates(sig: DataFrame, bands: int = LSH_BANDS,
                   perms: int = MINHASH_PERMS) -> DataFrame:
    """Band the signature, bucket on (band, band-hash), emit all
    unordered pairs within each bucket.

    ONE shuffle (the bucket groupBy, with map-side partial
    collect_set) instead of the former self-join's two shuffles — and
    the signature aggregation upstream runs once, not once per join
    side.  Pairs are generated JVM-side from the sorted per-bucket id
    array (i < j by construction, so no filter); the trailing
    ``distinct`` over pairs is a shuffle of the ~O(n) candidate set,
    not the banded table.  Bucket cardinality is bounded by the
    banding design (band width scales with log2(n) in the scale-path
    variants), so the per-bucket pair array stays small; a corpus
    that overflows it would have drowned the old self-join too.

    The bucket key is ONE long — xxhash64(band index, band columns) —
    instead of a (band, hash) struct: the band index inside the hash
    keeps buckets band-disjoint, halves the shuffle key bytes, and a
    cross-band hash collision can only MERGE buckets (extra verified-
    away candidates, never a lost pair)."""
    return banded_pairs(_lsh_banded(sig, bands, perms), "doc_id",
                        ("bkey",), out_cols=("doc_a", "doc_b"))


def _lsh_banded(sig: DataFrame, bands: int = LSH_BANDS,
                perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, bkey) banded bucket keys — the shared first half of
    `lsh_candidates` and the bucket-level verifier."""
    rows = perms // bands
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.xxhash64(F.lit(b), *[F.col(f"h{b * rows + r}") for r in range(rows)])
            for b in range(bands)])).alias("bkey"))


BANDED_CAP = 512    # max ids per chunk: one expansion row holds <= cap^2 pairs


def banded_pairs(banded: DataFrame, id_col: str,
                 band_cols=("band", "sig_hash"),
                 out_cols=("id_a", "id_b"),
                 cap: int = BANDED_CAP) -> DataFrame:
    """Distinct unordered id pairs sharing any band bucket — the
    single-shuffle blocking shape used by MinHash LSH, SimHash, and
    phash near-dup: groupBy the bucket key (map-side partial
    collect_set), generate i<j pairs JVM-side from the sorted id
    array, distinct over the O(candidates) pair set.

    Hot-bucket guard: a bucket with m members implies m(m-1)/2
    candidate pairs however they are produced; what must never happen
    is materializing them all as ONE m^2/2-element array in a single
    row (the pre-round-4 shape).  The sorted id array is chunked
    positionally into g = ceil(m/cap) pieces and exploded into
    g(g+1)/2 CELL rows (i <= j); each cell expands only chunk_i x
    chunk_j — a triangle when i == j, a cross product otherwise — so
    no row ever holds more than cap^2 pair structs and the m^2 pair
    stream spills through ordinary Exchange batching.  Sortedness
    makes a < b automatic (chunk_i's ids all precede chunk_j's), and
    every unordered pair lands in exactly one cell.  Normal buckets
    have g = 1: one triangle cell, byte-for-byte the old expansion —
    no extra branch, join, or second read of the bucket agg (a
    two-branch guard measured +40% on the candidate stage).
    Simhash/phash corpora with thousands-deep near-identical buckets
    (what dedup inputs look like before exact dedup) hit the g > 1
    path; LSH bands scaled by ``lsh_params`` stay at g = 1 by
    design."""
    a, b = out_cols
    # collect_list + array_sort, not sort_array(collect_set): callers
    # band one row per (id, band), so in-bucket ids are already unique
    # and the set buffer's hash-dedup is pure overhead (measured ~10%
    # of the agg stage)
    # (A bucket-membership dedup before pair expansion — distinct on
    # the sorted id array — was tried in round 6 and REVERTED: the
    # extra exchange cost 0.1-1.7 s on every caller in paired A/B and
    # bought nothing measurable even on the 32-band LSH caller, whose
    # cost lives in the verify join, not the duplicate pair stream.)
    buckets = (banded.groupBy(*band_cols)
                     .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
                     .filter(F.size("ids") > 1))
    cells = (buckets
             .withColumn("_g", F.ceil(F.size("ids") / F.lit(cap)).cast("int"))
             .withColumn("_i", F.explode(F.expr("sequence(0, _g - 1)")))
             .withColumn("_j", F.explode(F.expr("sequence(_i, _g - 1)")))
             .withColumn("_ai", F.expr(f"slice(ids, _i * {cap} + 1, {cap})"))
             .withColumn("_aj", F.expr(f"slice(ids, _j * {cap} + 1, {cap})")))
    tri = (f"flatten(transform(_ai, (a, i) -> "
           f"transform(slice(_ai, i + 2, size(_ai) - i - 1), "
           f"b -> struct(a AS {a}, b AS {b}))))")
    cross = (f"flatten(transform(_ai, a -> "
             f"transform(_aj, b -> struct(a AS {a}, b AS {b}))))")
    pairs = cells.select(F.explode(F.expr(
        f"CASE WHEN _i = _j THEN {tri} ELSE {cross} END")).alias("p"))
    # strict < also drops the self-pair a 64-bit bkey collision could
    # put in one bucket (collect_list no longer dedups)
    return (pairs.select(f"p.{a}", f"p.{b}")
                 .filter(F.col(a) < F.col(b)).distinct())


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates -> exact-Jaccard verification, fused per bucket.
    Output equals the exact n-gram pair set whenever LSH recall holds
    (P(miss) ~ 4e-13 at the 0.6 threshold with 32x2 bands; asserted by
    the shared oracle).

    Verification runs INSIDE each LSH bucket with the dense-matmul
    Jaccard kernel instead of generating the candidate pair list and
    joining the shingle arrays to it: this corpus's duplicate density
    makes 46.8M of the 50M doc pairs band-collide at sf0.1, so the
    pair-list shape paid 270M interpreted pair-struct expansions + a
    46.8M-row distinct + two array joins that materialized ~150 GB of
    shingle payloads (417 s measured).  Per-bucket verification ships
    each doc's gram-index array once per bucket membership (320k rows)
    and turns the 270M candidate tests into nb(nb+1)/2-chunked float32
    BLAS matmuls per bucket; verified pairs then dedup in one distinct
    over the TRUE pair multiset.  Same pair set by construction: a
    pair is emitted iff it shares >= 1 bucket AND passes the exact
    integer Jaccard test — exactly verify(candidates)."""
    aug = _augmented(spark, sf_dir, spread=True)
    arrs = _char_shingle_arrays(aug).cache()
    banded = _lsh_banded(minhash_signatures(arrs))
    docs = _gram_index_docs(arrs)
    buckets = (banded.join(docs, "doc_id")
               .groupBy("bkey")
               .agg(F.collect_list(F.struct("doc_id", "_idxs"))
                    .alias("_docs"))
               .filter(F.size("_docs") > 1)
               .repartition(_kernel_parallelism(arrs), "bkey"))

    def _bucket_verify(batches):
        blk = _NGRAM_BLOCK
        for pdf in batches:
            los, his = [], []
            for r in range(len(pdf)):
                ds = pdf["_docs"].iat[r]
                ids = np.asarray([d["doc_id"] for d in ds], dtype=np.int64)
                idx = [np.asarray(d["_idxs"], dtype=np.int64) for d in ds]
                m = len(ids)
                for i0 in range(0, m, blk):
                    i1 = min(i0 + blk, m)
                    for j0 in range(i0, m, blk):
                        j1 = min(j0 + blk, m)
                        lo, hi = _jaccard_block_kernel(
                            ids[i0:i1], idx[i0:i1],
                            ids[j0:j1], idx[j0:j1], same=(i0 == j0))
                        los.append(lo)
                        his.append(hi)
            yield pd.DataFrame({
                "doc_a": np.concatenate(los) if los
                else np.empty(0, np.int64),
                "doc_b": np.concatenate(his) if his
                else np.empty(0, np.int64)})

    return (buckets.mapInPandas(_bucket_verify, "doc_a long, doc_b long")
            .distinct())


# oracle: identical to the exact n-gram pair set
sql_dedup_minhash_lsh = sql_dedup_ngram_jaccard


# ---------------------------------------------------------------------------
# MinHash + LSH over WORD 3-shingles (the web-scale shingling choice)
# ---------------------------------------------------------------------------
#
# Character 3-grams draw from a few thousand distinct shingles, so any
# corpus with a bounded vocabulary (like the synthetic one) makes every
# document pair share most shingles and the LSH candidate set goes
# quadratic.  Word n-shingles (Broder's original w-shingling) draw from
# a combinatorial space (|vocab|^n), keeping random-pair Jaccard near 0
# — this variant runs the FULL corpus in the benchmark where the
# char-gram variant is the documented small-N verifier.

def _word_shingle_arrays(df: DataFrame) -> DataFrame:
    """One row per doc: (doc_id, shs) with shs the doc's DISTINCT
    word-3-shingle array — JVM higher-order functions (see the
    shingle-construction note above _sliding3)."""
    return (df
            .withColumn("_toks", F.split(F.col("nt"), " "))
            .withColumn("sh", F.expr(
                _sliding3("_toks", "concat_ws(' ', s['0'], s['1'], s['2'])")))
            .select("doc_id", F.array_distinct("sh").alias("shs")))


def _shingles_words(df: DataFrame) -> DataFrame:
    """Distinct (doc_id, 3-word shingle) pairs (exploded form)."""
    return _word_shingle_arrays(df).select(
        "doc_id", F.explode("shs").alias("shingle"))


def q_dedup_minhash_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over word-3-shingles: banded
    candidates -> exact word-shingle Jaccard verify.  Same recall math
    as the char-gram variant (32x2 bands, miss ~6e-7 at 0.6)."""
    aug = _augmented(spark, sf_dir)
    arrs = _word_shingle_arrays(aug).cache()
    return _verify_candidates(arrs, lsh_candidates(minhash_signatures(arrs)))


def _verify_candidates(docsets: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs against the
    per-doc distinct-shingle ARRAY table (doc_id, shs).

    Each candidate pair joins its two arrays and intersects them
    JVM-side (``array_intersect``).  Join cardinality is
    O(candidates) with array payloads — there is no shingle-row-level
    join at all, so the heavy shuffle the previous shape paid
    (candidate-expanded shingles vs the full shingle table on
    (doc, shingle)) is gone.  Per-pair work in the intersect is
    O(|A|+|B|) hash-set probing; a hot doc appearing in many pairs
    duplicates only its array, bounded by its candidate fan-out.  At
    dim-table scale AQE broadcasts the doc-array side; on a giant
    corpus both joins degrade gracefully to hash joins keyed by doc
    id."""
    a = docsets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sh_a"))
    b = docsets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sh_b"))
    return (cands.join(a, "doc_a").join(b, "doc_b")
            .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn("jaccard", F.col("common")
                        / (F.size("sh_a") + F.size("sh_b") - F.col("common")))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b"))


def sql_dedup_minhash_words() -> str:
    return f"""
    WITH aug AS ({_AUG_DUCK}),
    tk AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM aug),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) >= 3 THEN
                      list_transform(generate_series(1, len(toks) - 2),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END) AS shingle
      FROM tk
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common / CAST(sa.sz + sb.sz - common AS DOUBLE) >= {JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# SimHash (pure JVM Column math; pairs via 15-bit band blocking)
# ---------------------------------------------------------------------------
#
# 60-bit SimHash with an md5-derived token hash so the whole operator is
# expressible identically in Spark SQL and DuckDB (oracle-checked):
# the token's 64-bit-ish hash is the first 15 hex nibbles of md5(token),
# decoded digit-by-digit via instr('0123456789abcdef', ...) — both
# engines produce the same lowercase hex, so signatures are bit-equal.
# 60 bits split into 4x15-bit bands: a pair within Hamming distance <= 3
# shares at least one exact band (pigeonhole).

SIMHASH_BITS = 60
SIMHASH_BANDS = 4
_BAND_W = SIMHASH_BITS // SIMHASH_BANDS
_HEXD = "0123456789abcdef"


def _token_counts(df: DataFrame, text_col: str = "nt") -> DataFrame:
    return (df.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("token"))
              .filter(F.length("token") > 0)
              .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt")))


def simhash_signatures(df: DataFrame, text_col: str = "nt") -> DataFrame:
    """(doc_id, simhash): per-bit weighted token votes, all JVM Column
    math (explode -> md5 -> nibble decode -> 60 conditional sums); no
    Python in the plan.  Docs with no tokens produce no signature row
    (the oracle does the same)."""
    toks = _token_counts(df, text_col).withColumn("_h", F.md5("token"))
    # 15 hex digits -> d0 (most significant nibble) .. d14
    digs = toks.select(
        "doc_id", "cnt",
        *[(F.instr(F.lit(_HEXD), F.substring("_h", j + 1, 1)) - 1).cast("long").alias(f"_d{j}")
          for j in range(15)])
    votes = [
        F.sum(F.col("cnt") *
              (F.shiftright(F.col(f"_d{14 - b // 4}"), b % 4).bitwiseAND(F.lit(1)) * 2 - 1)
              ).alias(f"_v{b}")
        for b in range(SIMHASH_BITS)]
    agg = digs.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs within Hamming distance <= 3 over the augmented
    corpus, via 4x15-bit band blocking.  Oracle-checked: the md5-nibble
    hash makes the signature identical in DuckDB."""
    aug = _augmented(spark, sf_dir)
    sig = simhash_signatures(aug).cache()
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("simhash", _BAND_W * b)
                      .bitwiseAND(F.lit((1 << _BAND_W) - 1)).alias("chunk"))
            for b in range(SIMHASH_BANDS)])).alias("bs"))
    bands = bands.select("doc_id", "bs.band", "bs.chunk")
    cand = banded_pairs(bands, "doc_id", ("band", "chunk"),
                        out_cols=("doc_a", "doc_b"))
    sha = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    shb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.join(sha, "doc_a").join(shb, "doc_b")
                .withColumn("hamming", ham.cast("int"))
                .filter(F.col("hamming") <= 3)
                .select("doc_a", "doc_b", "hamming"))


def sql_dedup_simhash() -> str:
    votes = ",\n        ".join(
        f"SUM(cnt * ((((instr('{_HEXD}', substr(h, {(14 - b // 4) + 1}, 1)) - 1) >> {b % 4}) & 1) * 2 - 1)) AS v{b}"
        for b in range(SIMHASH_BITS))
    sim = " + ".join(f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
                     for b in range(SIMHASH_BITS))
    bands = ",".join(f"({b})" for b in range(SIMHASH_BANDS))
    return f"""
    WITH aug AS ({_AUG_DUCK}),
    tok AS (
      SELECT doc_id, token, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS token FROM aug
      ) WHERE length(token) > 0 GROUP BY doc_id, token
    ),
    dig AS (SELECT doc_id, cnt, md5(token) AS h FROM tok),
    votes AS (
      SELECT doc_id,
        {votes}
      FROM dig GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {sim} AS simhash FROM votes),
    bands AS (
      SELECT doc_id, simhash, t.band,
             (simhash >> ({_BAND_W} * t.band)) & {(1 << _BAND_W) - 1} AS chunk
      FROM sig CROSS JOIN (VALUES {bands}) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


# ---------------------------------------------------------------------------
# Prefix-filter EXACT set-similarity join (AllPairs / PPJoin family)
# ---------------------------------------------------------------------------
#
# The deterministic exact counterpart to MinHash LSH (Chaudhuri et al.
# ICDE'06 "A Primitive Operator for Similarity Joins"; Bayardo et al.
# WWW'07 "Scaling Up All Pairs Similarity Search").  Order every doc's
# shingle set by one global total order — document frequency ascending,
# ties by shingle text — and index only each set's PREFIX of length
# p = |S| - ceil(t*|S|) + 1.  If Jaccard(A,B) >= t then the overlap
# o = |A∩B| satisfies o >= ceil(t*|A|) and o >= ceil(t*|B|) (since
# J <= o/max(|A|,|B|)), and by the prefix-filtering principle two sets
# whose prefixes are disjoint under a shared total order have
# o <= min(|A|,|B|) - p < ceil(t*...) — so every qualifying pair shares
# a prefix shingle.  Candidates are therefore bucket-joined on PREFIX
# shingles only and verified by exact Jaccard: recall is 1.0 BY THEOREM
# (LSH's 1-(1-t^r)^b is probabilistic), and the output is exactly the
# threshold pair set.
#
# Scale shape vs LSH: no 64-hash signature pass at all; one extra
# shuffle computes global df; the inverted index shrinks to the ~(1-t)
# prefix fraction of postings, and df-ASCENDING order puts the hottest
# (stopword-like) shingles in the never-indexed suffix — the classic
# skew killer: bucket size is bounded by the df of RARE shingles.
# Candidates still flow through the hot-bucket-guarded `banded_pairs`.

# Jaccard threshold as an exact integer fraction (3/5 == 0.6): the
# prefix length p = sz - ceil(3*sz/5) + 1 must NOT be computed through
# a float (5*0.6 rounds to 3.0000000000000004 and ceil then SHORTENS
# the prefix below the sound length — a silent recall hole).
_T_NUM, _T_DEN = 3, 5
assert _T_NUM / _T_DEN == JACCARD_THRESHOLD


def _df_ordered_prefix(arrs: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """(doc_id, bkey): each doc's PREFIX shingles — the first
    p = sz - ceil(t*sz) + 1 under the global (df asc, shingle asc)
    order, with t = t_num/t_den kept as an exact integer fraction (see
    the _T_NUM note)."""
    sh = arrs.select("doc_id", F.explode("shs").alias("shingle"))
    # global document frequency: arrays are distinct per doc, so a
    # plain count per shingle IS df — one partial-agg'd shuffle
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # per-doc canonical order: struct sort = (df asc, shingle asc)
    ordered = (sh.join(dfreq, "shingle")
                 .groupBy("doc_id")
                 .agg(F.array_sort(F.collect_list(F.struct("_df", "shingle")))
                      .alias("_ord")))
    return (ordered
            .withColumn("_sz", F.size("_ord"))
            .withColumn("_p", F.col("_sz")
                        - F.expr(f"({t_num} * _sz + {t_den - 1}) div {t_den}")
                        + F.lit(1))
            .select("doc_id", F.explode(F.expr("slice(_ord, 1, _p)")).alias("_ps"))
            .select("doc_id", F.col("_ps.shingle").alias("bkey")))


def prefix_candidates(arrs: DataFrame) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs sharing at least one PREFIX
    shingle under the global (df asc, shingle asc) order.  Input is the
    per-doc distinct-shingle array table (doc_id, shs); output feeds
    `_verify_candidates` exactly like the LSH candidates do."""
    pre = _df_ordered_prefix(arrs, _T_NUM, _T_DEN)
    return banded_pairs(pre, "doc_id", ("bkey",), out_cols=("doc_a", "doc_b"))


def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join over word-3-shingles by prefix
    filtering: candidates from the df-ordered prefix index, exact
    Jaccard verify.  Output == the exact threshold pair set by theorem
    (same oracle as the word MinHash variant, which matches it only up
    to LSH recall)."""
    aug = _augmented(spark, sf_dir)
    arrs = _word_shingle_arrays(aug).cache()
    return _verify_candidates(arrs, prefix_candidates(arrs))


# oracle: the exact word-3-shingle Jaccard pair set
sql_dedup_prefix = sql_dedup_minhash_words


# ---------------------------------------------------------------------------
# Containment join (directional subset dedup — the boilerplate case)
# ---------------------------------------------------------------------------
#
# Jaccard misses the commonest web-corpus duplication: a document
# CONTAINED in a larger one (boilerplate wrappers, quoted articles,
# truncated mirrors) scores low Jaccard when the container is much
# bigger, but containment |A∩B|/|A| is ~1.  The prefix filter has an
# asymmetric containment form: o >= ceil(t*|A|) forces A's
# (df-ordered) prefix of length |A| - ceil(t*|A|) + 1 to intersect B —
# so only the CONTAINED side indexes a prefix (~(1-t) of its
# postings; at t = 9/10 that is ~10%), while the container side is
# probed through the full posting table.  df-ASCENDING order keeps
# probe-side postings lists short (a prefix shingle is rare by
# construction), bounding candidate volume.  Exact and directional:
# (doc_a contained-in doc_b), recall 1.0 by the same theorem.

_C_NUM, _C_DEN = 9, 10   # containment threshold 0.9, exact fraction


def q_dedup_contain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs over word-3-shingles:
    |A∩B| / |A| >= 9/10 with A != B — the truncated variants in the
    augmented corpus are (near-)subsets of their originals, so the
    oracle checks real containments.  Output carries the exact
    integer evidence (common, sz_a)."""
    aug = _augmented(spark, sf_dir)
    arrs = _word_shingle_arrays(aug).cache()
    pre = _df_ordered_prefix(arrs, _C_NUM, _C_DEN)
    sh = arrs.select(F.col("doc_id").alias("doc_b"),
                     F.explode("shs").alias("bkey"))
    cand = (pre.withColumnRenamed("doc_id", "doc_a")
               .join(sh, "bkey")
               .filter(F.col("doc_a") != F.col("doc_b"))
               .select("doc_a", "doc_b").distinct())
    a = arrs.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sh_a"))
    b = arrs.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sh_b"))
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn("sz_a", F.size("sh_a"))
            .filter(F.col("common") * _C_DEN >= F.col("sz_a") * _C_NUM)
            .select(F.col("doc_a").cast("long").alias("doc_a"),
                    F.col("doc_b").cast("long").alias("doc_b"),
                    F.col("common").cast("long").alias("common"),
                    F.col("sz_a").cast("long").alias("sz_a")))


def sql_dedup_contain() -> str:
    return f"""
    WITH aug AS ({_AUG_DUCK}),
    tk AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM aug),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) >= 3 THEN
                      list_transform(generate_series(1, len(toks) - 2),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END) AS shingle
      FROM tk
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           CAST(common AS BIGINT) AS common, CAST(sa.sz AS BIGINT) AS sz_a
    FROM common JOIN sizes sa ON sa.doc_id = doc_a
    WHERE common * {_C_DEN} >= sa.sz * {_C_NUM}
    """


def q_contain_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment DECISION: every augmented doc -> kept (1) or
    dropped (0).  A doc is dropped when it is >= 9/10 contained in ANY
    dominating doc — strictly larger shingle set, or equal size with a
    smaller id (the tie-break that keeps exactly one of an identical
    pair).  The dominated-by-any rule is the standard greedy
    subset-dedup semantics: deterministic, one anti-join past the pair
    table, no iteration (unlike the Jaccard families' connected
    components, containment is directional so no closure is needed)."""
    aug = _augmented(spark, sf_dir)
    arrs = _word_shingle_arrays(aug).cache()
    pairs = q_dedup_contain(spark, sf_dir)
    sizes_b = arrs.select(F.col("doc_id").alias("doc_b"),
                          F.size("shs").alias("sz_b"))
    dropped = (pairs.join(sizes_b, "doc_b")
               .filter((F.col("sz_a") < F.col("sz_b"))
                       | ((F.col("sz_a") == F.col("sz_b"))
                          & (F.col("doc_a") > F.col("doc_b"))))
               .select(F.col("doc_a").alias("doc_id")).distinct())
    return (aug.select(F.col("doc_id").cast("long").alias("doc_id"))
            .join(dropped.withColumn("_d", F.lit(1)), "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("_d").isNull(), 1).otherwise(0)
                     .cast("int").alias("kept"))
            .orderBy("doc_id"))


def sql_contain_keep() -> str:
    pair_sql = sql_dedup_contain()
    return f"""
    WITH _pairs AS ({pair_sql}),
    _aug AS ({_AUG_DUCK}),
    _tk AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM _aug),
    _sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) >= 3 THEN
                      list_transform(generate_series(1, len(toks) - 2),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END) AS shingle
      FROM _tk
    ),
    _sizes AS (SELECT doc_id, COUNT(*) AS sz FROM _sh GROUP BY doc_id),
    _dropped AS (
      SELECT DISTINCT p.doc_a AS doc_id
      FROM _pairs p JOIN _sizes sb ON sb.doc_id = p.doc_b
      WHERE p.sz_a < sb.sz OR (p.sz_a = sb.sz AND p.doc_a > p.doc_b)
    )
    SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
           CAST(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM _aug a LEFT JOIN _dropped d ON d.doc_id = a.doc_id
    ORDER BY doc_id
    """


# --- connected components over near-dup pairs ------------------------------

def connected_components(pairs: DataFrame, a: str = "doc_a",
                         b: str = "doc_b", max_iter: int = 30) -> DataFrame:
    """Connected components of the near-dup pair graph: (node, component)
    with component = min node id reachable.  The dedup families emit
    PAIRS; a training pipeline needs components to pick one canonical
    document per duplicate cluster (keep min id, drop the rest).

    Plan: min-label propagation with pointer jumping.  Each round is
    (1) every node takes the min of its own and its neighbors' labels
    (one join + one groupBy shuffle over the edge table) and (2) a
    pointer-jumping step label <- label(label) (one self-join), which
    collapses chains exponentially — O(log n) rounds on a path graph
    instead of O(n).  Rounds localCheckpoint so round r never recomputes
    rounds < r; each round costs O(|E|) shuffle traffic, so the total is
    O(|E| log n) — the standard scalable CC recipe.  Near-dup clusters
    are short-diameter in practice; convergence is detected exactly
    (no label changed), with ``max_iter`` as a safety bound.

    Statistics-reset note: ``localCheckpoint`` truncates EXECUTION
    lineage but `LogicalRDD.fromDataset` copies the checkpointed
    plan's ESTIMATED statistics, and each round's joins multiply the
    previous round's inherited sizeInBytes — the BigInt estimate
    compounds ~^4 per round, and by round ~10 Spark's size-only stats
    visitor is multiplying million-digit numbers inside planning
    (observed on the sf0.1 dbscan core graph: driver pegged in
    BigInteger.multiplyToomCook3 for minutes, then planner OOM /
    "BigInteger would overflow supported range").  Every
    ``_CC_STATS_RESET_EVERY`` rounds the labels therefore round-trip
    through a scratch parquet file — a fresh scan whose stats come
    from the file size, capping the compounding.  This is the
    GraphFrames checkpoint-interval recipe; the scratch dir is
    per-call, in-query-only state (like shuffle files), removed on
    interpreter exit."""
    edges = (pairs.select(F.col(a).cast("long").alias("src"),
                          F.col(b).cast("long").alias("dst"))
             .union(pairs.select(F.col(b).cast("long").alias("src"),
                                 F.col(a).cast("long").alias("dst")))
             .distinct().localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("comp", F.col("node")))
    scratch = None
    for _it in range(max_iter):
        nbr_min = (edges
                   .join(labels.select(F.col("node").alias("dst"),
                                       F.col("comp").alias("dcomp")), "dst")
                   .groupBy("src").agg(F.min("dcomp").alias("nbr")))
        stepped = (labels
                   .join(nbr_min.withColumnRenamed("src", "node"), "node", "left")
                   .select("node", F.least(F.col("comp"),
                                           F.coalesce("nbr", F.col("comp"))).alias("comp")))
        # pointer jumping: comp <- comp's own current label (labels are
        # always node ids, so the lookup is total)
        jumped = (stepped
                  .join(stepped.select(F.col("node").alias("cnode"),
                                       F.col("comp").alias("ccomp")),
                        stepped.comp == F.col("cnode"), "left")
                  .select("node", F.coalesce("ccomp", "comp").alias("comp"))
                  .localCheckpoint(eager=True))
        changed = (jumped.join(labels.withColumnRenamed("comp", "old"), "node")
                   .filter(F.col("comp") != F.col("old")))
        labels = jumped
        if changed.isEmpty():
            break
        if (_it + 1) % _CC_STATS_RESET_EVERY == 0:
            if scratch is None:
                scratch = tempfile.mkdtemp(prefix="zellige_cc_scratch_")
                atexit.register(shutil.rmtree, scratch, ignore_errors=True)
            path = os.path.join(scratch, f"labels_{_it}")
            labels.write.mode("overwrite").parquet(path)
            labels = labels.sparkSession.read.parquet(path)
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def dedup_canonical(docs: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Full-corpus component assignment: every doc gets the component id
    (min doc id of its duplicate cluster; singletons map to themselves).
    Downstream, `filter(doc_id == component)` keeps one canonical doc
    per cluster — the end-to-end dedup decision."""
    comps = connected_components(pairs)
    return (docs.select(F.col(id_col).cast("long").alias(id_col))
            .join(comps.withColumnRenamed("node", id_col), id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("component", F.col(id_col)).alias("component")))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization over the MinHash-words pair graph: every
    augmented doc -> its duplicate-cluster component id."""
    pairs = q_dedup_minhash_words(spark, sf_dir)
    docs = _augmented(spark, sf_dir).select("doc_id")
    return dedup_canonical(docs, pairs).orderBy("doc_id")


def sql_dedup_components() -> str:
    # transitive closure by recursive CTE (UNION dedups, so it
    # terminates); component = min reachable node — tractable at the
    # oracle scale because near-dup clusters are tiny
    pair_sql = sql_dedup_minhash_words()
    return f"""
    WITH RECURSIVE _pairs AS ({pair_sql}),
    _edges AS (
      SELECT doc_a AS s, doc_b AS d FROM _pairs
      UNION ALL SELECT doc_b, doc_a FROM _pairs
    ),
    _reach(node, r) AS (
      SELECT s, d FROM _edges
      UNION
      SELECT _reach.node, _edges.d FROM _reach JOIN _edges ON _reach.r = _edges.s
    ),
    _comp AS (
      SELECT node, least(node, MIN(r)) AS component FROM _reach GROUP BY node
    ),
    _aug AS ({_AUG_DUCK})
    SELECT CAST(_aug.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(_comp.component, _aug.doc_id) AS BIGINT) AS component
    FROM _aug LEFT JOIN _comp ON _comp.node = _aug.doc_id
    ORDER BY doc_id
    """
