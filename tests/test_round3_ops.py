"""Round-3 regressions: scale-safe LSH signature width (candidate
count stays O(n) at ~1e5 vectors), the self-verifying ANN recall
column, and small-corpus behavior preservation."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# lsh_params: shape derivation
# ---------------------------------------------------------------------------

def test_lsh_params_small_corpus_unchanged():
    from zellige_spark.operators import similarity as SIM

    p = SIM.lsh_params(500)
    assert (p.planes, p.band_bits, p.n_bands, p.probe) == (16, 2, 8, False)
    assert SIM.lsh_params(SIM.SMALL_CORPUS).probe is False


def test_lsh_params_scales_with_corpus():
    from zellige_spark.operators import similarity as SIM

    p = SIM.lsh_params(100_000)
    assert p.band_bits == 16 and p.n_bands == 4 and p.planes == 64 and p.probe
    # buckets per band must grow ~linearly with n so candidates stay O(n)
    p6 = SIM.lsh_params(10**6)
    assert 2 ** p6.band_bits >= 2 ** 16
    # signature always packs into one int64
    for n in (2 * 10**4, 10**5, 10**7, 10**12):
        q = SIM.lsh_params(n)
        assert q.planes <= 64 and q.n_bands * q.band_bits == q.planes


# ---------------------------------------------------------------------------
# candidate-count linearity at ~1e5 vectors (the round-2 verdict's
# "quadratic-candidates-in-disguise" regression gate)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def big_emb_dir(tmp_path_factory):
    # dim >= planes so the 64 hyperplanes are full-rank and sign bits
    # are ~independent; at dim 32 the rank-limited bits correlate and
    # inflate bucket collisions ~2.5x
    n, dim = 100_000, 64
    rng = np.random.default_rng(31337)
    X = rng.standard_normal((n, dim)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(X.ravel()))
    t = pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb})
    d = tmp_path_factory.mktemp("big_emb")
    pq.write_table(t, str(d / "emb.parquet"))
    return str(d / "emb.parquet"), n, dim


def test_lsh_candidates_linear_at_1e5(spark, big_emb_dir):
    from zellige_spark.operators import similarity as SIM

    path, n, dim = big_emb_dir
    p = SIM.lsh_params(n)
    sig = SIM.lsh_signature_udf(dim, p.planes)
    base = (spark.read.parquet(path)
                 .select("vec_id", sig(F.col("embedding")).alias("sig")))
    cands = SIM.lsh_candidate_pairs(base, p).count()
    # isotropic corpus: expected ~ L*(1+b)*n^2/2^(b+1) ~= 52n here.
    # All-pairs would be n(n-1)/2 = 5e9; assert a hard linear bound.
    assert cands <= 128 * n, f"candidate blow-up: {cands} pairs for n={n}"
    assert cands > 0


# ---------------------------------------------------------------------------
# self-verifying recall column on ann_lsh / ann_ivf
# ---------------------------------------------------------------------------

def _external_recall(approx, brute):
    b = {}
    for r in brute:
        b.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    a = {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    per_q = {q: len(a.get(q, set()) & nb) / len(nb) for q, nb in b.items()}
    return per_q


@pytest.mark.parametrize("qname", ["q_ann_lsh", "q_ann_ivf"])
def test_ann_recall_column_truthful(spark, qname):
    from zellige_spark.operators import similarity as SIM

    approx = getattr(SIM, qname)(spark, SF).collect()
    brute = SIM.q_ann_bruteforce(spark, SF).collect()
    assert all("recall_e3" in r.asDict() for r in approx)
    ext = _external_recall(approx, brute)
    # the emitted column must equal the externally recomputed recall
    for r in approx:
        assert r["recall_e3"] == int(ext[r["query_id"]] * 1000 // 1)
    mean_recall = sum(ext.values()) / len(ext)
    floor = 0.9 if qname == "q_ann_lsh" else 0.5
    assert mean_recall >= floor, f"{qname} mean recall {mean_recall}"


# --- connected components over near-dup pairs ------------------------------

def test_connected_components_shapes(spark):
    from zellige_spark.operators.dedup import connected_components

    # chain 1-2-3-4, star 10-(11,12,13), singleton edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "doc_a long, doc_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}


def test_connected_components_long_path_converges(spark):
    # pointer jumping: a 64-node path collapses well inside max_iter
    from zellige_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(63)],
                                  "doc_a long, doc_b long")
    got = connected_components(pairs, max_iter=10).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 64


def test_dedup_components_matches_duckdb_oracle(spark):
    import duckdb

    from zellige_spark.operators import dedup as DD

    sf = "/root/testdata/sf0.001"
    sp = DD.q_dedup_components(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    du = con.execute(DD.sql_dedup_components()).fetchdf()
    assert len(sp) == len(du) > 0
    import numpy as np
    assert np.array_equal(sp["doc_id"].to_numpy(), du["doc_id"].to_numpy())
    assert np.array_equal(sp["component"].to_numpy(), du["component"].to_numpy())
    # at least one non-trivial cluster exists (augmented corpus)
    assert (sp["component"] != sp["doc_id"]).any()
