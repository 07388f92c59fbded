"""Similarity search: brute-force exactness vs numpy, IVF recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_glue_cdc_metrics_job_spark.operators import similarity


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    # 3 well-separated clusters of 20 vectors each, dim 8
    centers = rng.normal(size=(3, 8)) * 10
    rows = []
    for i in range(60):
        v = centers[i % 3] + rng.normal(scale=0.5, size=8)
        rows.append((i, [float(x) for x in v]))
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _numpy_topk(rows, qid, k=3):
    vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in rows}
    q = vecs[qid]
    sims = {
        i: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
        for i, v in vecs.items()
        if i != qid
    }
    return [i for i, _ in sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:k]]


def test_brute_force_matches_numpy(vectors):
    rows, df = vectors
    queries = df.filter(F.col("vec_id") < 3)
    got = similarity.brute_force_topk(df, queries, k=3)
    by_q = {}
    for r in sorted(got.collect(), key=lambda r: (r["QUERY_ID"], r["RANK"])):
        by_q.setdefault(r["QUERY_ID"], []).append(r["NEIGHBOR_ID"])
    for qid in range(3):
        assert by_q[qid] == _numpy_topk(rows, qid, k=3)


def test_ivf_assign_puts_cluster_members_together(vectors):
    rows, df = vectors
    # one centroid per cluster (members 0,1,2 are in distinct clusters)
    centroids = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cells = {r["vec_id"]: r["CELL"] for r in similarity.assign_cells(df, centroids).collect()}
    for i, _ in rows:
        assert cells[i] == cells[i % 3]  # same cluster -> same cell


def test_ivf_topk_recall_within_cluster(vectors):
    rows, df = vectors
    queries = df.filter(F.col("vec_id") < 3)
    centroids = queries.select(F.col("vec_id").alias("centroid_id"), "embedding")
    exact = similarity.brute_force_topk(df, queries, k=3)
    approx = similarity.ivf_topk(df, queries, centroids, k=3)
    e = {(r["QUERY_ID"], r["NEIGHBOR_ID"]) for r in exact.collect()}
    a = {(r["QUERY_ID"], r["NEIGHBOR_ID"]) for r in approx.collect()}
    # separated clusters: in-cell search recalls the exact neighbors
    assert e == a


def test_self_match_excluded(vectors):
    _, df = vectors
    queries = df.filter(F.col("vec_id") == 0)
    got = similarity.brute_force_topk(df, queries, k=5).collect()
    assert all(r["NEIGHBOR_ID"] != 0 for r in got)


def test_brute_force_cosine_bit_exact(vectors):
    """COSINE equals a plain-Python sequential-accumulation reference with
    ``==``: the same left-to-right add order as DuckDB's list_dot_product,
    so the oracle's values are reproduced bit for bit."""
    rows, df = vectors
    got = {
        (r["QUERY_ID"], r["NEIGHBOR_ID"]): r["COSINE"]
        for r in similarity.brute_force_topk(df, df.filter(F.col("vec_id") < 3), k=3).collect()
    }
    vecs = {r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64) for r in df.collect()}
    exp = {}
    for qi in range(3):
        qv = vecs[qi]
        cos = {}
        for ci, cv in vecs.items():
            if ci == qi:
                continue
            acc = cv[0] * qv[0]
            na, nb = cv[0] * cv[0], qv[0] * qv[0]
            for d in range(1, len(cv)):
                acc += cv[d] * qv[d]
                na += cv[d] * cv[d]
                nb += qv[d] * qv[d]
            cos[ci] = float(similarity._rhu_np(acc / (np.sqrt(na) * np.sqrt(nb))))
        for ci in sorted(cos, key=lambda i: (-cos[i], i))[:3]:
            exp[(qi, ci)] = cos[ci]
    assert got == exp


def test_topk_query_size_guard(vectors):
    """The driver-collect contract is enforced: an oversized query frame
    raises instead of OOMing the driver, and the check rides on the
    bounded collect itself."""
    _, df = vectors
    queries = df.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="query rows"):
        similarity.brute_force_topk(df, queries, k=3, max_queries=2)
    # at exactly the cap it still runs
    got = similarity.brute_force_topk(df, queries, k=3, max_queries=5)
    assert got.count() > 0


def test_build_job_counts_pinned(vectors, build_jobs):
    """Jobs launched while BUILDING (before any action): one bounded
    collect of the broadcast side each, so the size guard adds no job."""
    _, df = vectors
    queries = df.filter(F.col("vec_id") < 3)
    centroids = queries.select(F.col("vec_id").alias("centroid_id"), "embedding")
    assert build_jobs("build-topk", lambda: similarity.brute_force_topk(df, queries, k=3)) == 1
    assert build_jobs("build-assign", lambda: similarity.assign_cells(df, centroids)) == 1


def test_cosine_dup_pairs_blocked(vectors):
    rows, df = vectors
    centroids = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    pairs = similarity.cosine_dup_pairs(df, centroids, threshold=0.9).collect()
    assert pairs, "clustered fixture should contain high-cosine pairs"
    for r in pairs:
        assert r["ID_A"] < r["ID_B"] and r["COSINE"] >= 0.9
        assert r["ID_A"] % 3 == r["ID_B"] % 3  # only within-cluster (within-cell) pairs


def test_semantic_dedup_min_id_survivorship(vectors):
    rows, df = vectors
    centroids = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    pairs = similarity.cosine_dup_pairs(df, centroids, threshold=0.9).collect()
    survivors = {
        r["vec_id"] for r in similarity.semantic_dedup(df, centroids, threshold=0.9).collect()
    }
    dropped = {i for i, _ in rows} - survivors
    # exactly the higher-id ends of the pair stream are dropped
    assert dropped == {r["ID_B"] for r in pairs}
    assert dropped, "clustered fixture should drop semantic duplicates"
    # every dropped vector has a surviving-or-dropped smaller-id duplicate;
    # every survivor has NO smaller-id duplicate at all
    smaller_dup = {r["ID_B"]: r["ID_A"] for r in pairs}
    for i in dropped:
        assert smaller_dup[i] < i
    for i in survivors:
        assert i not in smaller_dup
    # all corpus columns pass through
    out_cols = similarity.semantic_dedup(df, centroids, threshold=0.9).columns
    assert out_cols == df.columns


def test_semantic_dedup_no_pairs_keeps_everything(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    cents = df.select(F.col("vec_id").alias("centroid_id"), "embedding")
    out = similarity.semantic_dedup(df, cents, threshold=0.99)
    assert sorted(r["vec_id"] for r in out.collect()) == [0, 1, 2]


# --- random-hyperplane LSH


def test_rp_lsh_similar_vectors_share_bits(spark):
    from aws_glue_cdc_metrics_job_spark.operators.similarity import rp_lsh_signature

    base = [float((i * 37 % 19) - 9) for i in range(64)]
    near = [x + 0.01 for x in base]                 # tiny perturbation
    anti = [-x for x in base]                       # opposite direction
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, anti)], "vec_id long, embedding array<double>"
    )
    sigs = {r["vec_id"]: r["RP_SIG"] for r in rp_lsh_signature(df).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sigs[1], sigs[2]) <= 2   # near-identical -> near-identical signature
    assert hamming(sigs[1], sigs[3]) == 16  # antipodal -> every bit flips


def test_rp_lsh_deterministic_constants(spark):
    from aws_glue_cdc_metrics_job_spark.operators.similarity import rp_constants

    a = rp_constants(4, 8, seed="s")
    b = rp_constants(4, 8, seed="s")
    c = rp_constants(4, 8, seed="t")
    assert a == b and a != c
    assert all(-1.0 <= x < 1.0 for row in a for x in row)


def test_rp_lsh_dup_pairs_exact_recall_vs_brute_force(spark):
    from aws_glue_cdc_metrics_job_spark.operators.similarity import (
        rp_lsh_dup_pairs,
        rp_lsh_signature,
    )

    base = [float((i * 29 % 23) - 11) for i in range(64)]
    rows = [(i, [x + i * 0.002 for x in base]) for i in range(30)]  # graded drift
    rows += [(100 + i, [-x + i * 0.5 for x in base]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r["ID_A"], r["ID_B"]) for r in rp_lsh_dup_pairs(df, max_hamming=1).collect()
    }
    sigs = {r["vec_id"]: r["RP_SIG"] for r in rp_lsh_signature(df).collect()}
    want = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 1
    }
    assert got == want  # banding is candidate generation only: exact recall
    assert want, "fixture must actually produce qualifying pairs"


def test_rp_lsh_dup_pairs_rejects_bad_params(spark):
    from aws_glue_cdc_metrics_job_spark.operators.similarity import rp_lsh_dup_pairs

    df = spark.createDataFrame([(1, [0.0] * 64)], "vec_id long, embedding array<double>")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rp_lsh_dup_pairs(df, bands=2, max_hamming=2)
    with _pytest.raises(ValueError):
        rp_lsh_dup_pairs(df, planes=16, bands=3)


def test_rp_lsh_dup_pairs_occupancy_guard(spark):
    # Default planes=16/bands=2 give 256 buckets per band; a corpus of 1M
    # rows would average ~3900 rows per bucket -> refused, with the planes
    # increase that fixes it named in the message. Small corpora and
    # explicitly-raised planes pass.
    from aws_glue_cdc_metrics_job_spark.operators.similarity import rp_lsh_dup_pairs

    df = spark.createDataFrame([(1, [0.0] * 64)], "vec_id long, embedding array<double>")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Raise planes"):
        rp_lsh_dup_pairs(df, expected_rows=1_000_000)
    rp_lsh_dup_pairs(df, expected_rows=10_000)  # 39/bucket: fine
    rp_lsh_dup_pairs(df, planes=28, bands=2, expected_rows=1_000_000)  # 61/bucket


def test_int8_quantize_roundtrip(spark):
    from aws_glue_cdc_metrics_job_spark.operators.similarity import int8_quantize

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),      # all-zero vector
        (2, [-2.0, 2.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in int8_quantize(df).collect()}
    assert out[0]["AMAX"] == 1.0
    # extremes map to +-127; halves round toward +inf by design (so the
    # codes agree bit-for-bit across engines): floor(-63.5+0.5) = -63
    assert out[0]["Q"] == [127, -63, 32, 0]
    assert out[1]["AMAX"] == 0.0 and out[1]["Q"] == [0, 0, 0, 0]
    assert out[2]["Q"] == [-127, 127, 64, -63]
    # dequantization error bounded by half a step
    import numpy as np

    for vid, emb in rows:
        if out[vid]["AMAX"] == 0:
            continue
        deq = np.array(out[vid]["Q"]) * out[vid]["AMAX"] / 127
        assert np.max(np.abs(deq - np.array(emb))) <= out[vid]["AMAX"] / 254 + 1e-12


class TestSemanticCrossDecontamination:
    def test_survivors_complement_pairs(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators import similarity as S
        from aws_glue_cdc_metrics_job_spark.sources import read_table
        from pyspark.sql import functions as F

        emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
        cents = emb.filter(F.col("vec_id") % 31 == 1).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        corpus = emb.filter(F.col("vec_id") % 97 != 0)
        bench = emb.filter(F.col("vec_id") % 97 == 0)
        pairs = S.semantic_cross_pairs(corpus, bench, cents, threshold=0.3)
        dirty = {r["CORPUS_ID"] for r in pairs.collect()}
        kept = {r["vec_id"] for r in S.semantic_decontaminate(corpus, bench, cents, 0.3).collect()}
        allc = {r["vec_id"] for r in corpus.select("vec_id").collect()}
        assert dirty  # the synthetic clusters guarantee cross-side neighbors
        assert kept == allc - dirty
        # no self-side pairs: every BENCH_ID is a bench row
        assert all(r["BENCH_ID"] % 97 == 0 for r in pairs.collect())

    def test_pairs_match_bruteforce_within_cells(self, spark):
        import numpy as np

        from aws_glue_cdc_metrics_job_spark.operators import similarity as S
        from aws_glue_cdc_metrics_job_spark.sources import read_table
        from pyspark.sql import functions as F

        emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
        cents = emb.filter(F.col("vec_id") % 31 == 1).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        corpus = emb.filter(F.col("vec_id") % 97 != 0)
        bench = emb.filter(F.col("vec_id") % 97 == 0)
        got = {
            (r["CORPUS_ID"], r["BENCH_ID"]): r["COSINE"]
            for r in S.semantic_cross_pairs(corpus, bench, cents, threshold=0.3).collect()
        }
        # independent replication: assignment + cross cosine in numpy
        cells = {
            r["vec_id"]: r["CELL"]
            for r in S.assign_cells(emb, cents).select("vec_id", "CELL").collect()
        }
        vecs = {
            r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
            for r in emb.collect()
        }
        exp = {}
        for ci, cv in vecs.items():
            if ci % 97 == 0:
                continue
            for bi, bv in vecs.items():
                if bi % 97 != 0 or cells[ci] != cells[bi]:
                    continue
                acc = cv[0] * bv[0]
                na, nb = cv[0] * cv[0], bv[0] * bv[0]
                for d in range(1, len(cv)):
                    acc += cv[d] * bv[d]
                    na += cv[d] * cv[d]
                    nb += bv[d] * bv[d]
                c = float(S._rhu_np(acc / (np.sqrt(na) * np.sqrt(nb))))
                if c >= 0.3:
                    exp[(ci, bi)] = c
        assert got == exp


# --- matryoshka / perceptron / RRF -----------------------------------------


def test_matryoshka_unit_norm(spark):
    import math

    from aws_glue_cdc_metrics_job_spark.operators import similarity

    rows = [(1, [3.0, 4.0] + [9.9] * 62), (2, [0.0] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.matryoshka_truncate(df, m=2).collect()
    got = {(r["vec_id"], r["DIM"]): r["VAL"] for r in out}
    assert got[(1, 0)] == 0.6 and got[(1, 1)] == 0.8
    # zero-norm prefix -> zeros, not NaN
    assert got[(2, 0)] == 0.0 and got[(2, 1)] == 0.0
    # renormalized prefix has unit length
    assert math.isclose(got[(1, 0)] ** 2 + got[(1, 1)] ** 2, 1.0, abs_tol=1e-5)


def test_perceptron_step_hand_case(spark):
    from aws_glue_cdc_metrics_job_spark.operators import similarity

    # w = [1, 0]; positives along +x are correct, negative at +x misclassified
    rows = [
        (1, [2.0, 0.0], 0),   # y=+1, margin 2 > 0 -> correct
        (2, [1.0, 1.0], 5),   # y=-1, margin 1 -> miscl, contributes (-1, -1)
        (3, [-1.0, 2.0], 0),  # y=+1, margin -1 -> miscl, contributes (-1, 2)
        (4, [-3.0, 1.0], 7),  # y=-1, margin -3 -> correct
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["DIM"]: r for r in similarity.perceptron_step(df, [1.0, 0.0], lr=0.1).collect()}
    assert out[0]["N_MISCLASSIFIED"] == 2 and out[1]["N_MISCLASSIFIED"] == 2
    assert out[0]["GRAD_VAL"] == -2.0 and out[1]["GRAD_VAL"] == 1.0
    assert out[0]["W_NEW"] == 1.0 + 0.1 * -2.0
    assert out[1]["W_NEW"] == 0.0 + 0.1 * 1.0


def test_rrf_fuse_orders_and_bounds(spark):
    from aws_glue_cdc_metrics_job_spark.operators import similarity

    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "DOC_ID long, RANK long")
    b = spark.createDataFrame([(11, 1), (12, 2), (13, 3)], "DOC_ID long, RANK long")
    out = similarity.rrf_fuse([a, b], top=3).collect()
    got = {r["DOC_ID"]: (r["N_LISTS"], r["RRF_PPB"]) for r in out}
    # 11 appears rank2+rank1 -> top id
    assert out[0]["DOC_ID"] == 11 and got[11][0] == 2
    assert got[11][1] == 1000000000 // 62 + 1000000000 // 61
    # top=3 bound respected
    assert len(out) == 3


def test_perceptron_train_converges_on_separable_data(spark):
    from aws_glue_cdc_metrics_job_spark.operators import similarity

    # linearly separable: label 0 lives at x>0, others at x<0
    rows = [(i, [1.0 + 0.1 * i, 0.5], 0) for i in range(5)]
    rows += [(10 + i, [-1.0 - 0.1 * i, 0.4], 3) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    w = similarity.perceptron_train(df, [0.0, 0.0], iters=20, lr=0.5)
    # trained weights classify every row correctly -> step yields no rows
    left = similarity.perceptron_step(df, w, lr=0.5).collect()
    assert left == []
    # determinism: retraining gives the identical trajectory
    assert similarity.perceptron_train(df, [0.0, 0.0], iters=20, lr=0.5) == w


def test_sq8_topk_hand_case_and_recall(spark):
    from aws_glue_cdc_metrics_job_spark.operators import similarity

    # corpus of 2-dim-ish vectors padded to 64; vec 1 is nearly parallel
    # to vec 0, vec 2 orthogonal, vec 3 anti-parallel
    def pad(v):
        return v + [0.0] * 62

    rows = [
        (0, pad([1.0, 0.0])),
        (1, pad([0.99, 0.05])),
        (2, pad([0.0, 1.0])),
        (3, pad([-1.0, 0.0])),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.sq8_topk(df, df.filter("vec_id = 0"), k=3).collect()
    order = [r["NEIGHBOR_ID"] for r in sorted(out, key=lambda r: r["NEIGHBOR_RANK"])]
    assert order == [1, 2, 3]
    sims = {r["NEIGHBOR_ID"]: r["SQ8_COSINE"] for r in out}
    assert sims[1] > 0.99 and abs(sims[2]) < 0.01 and sims[3] == -1.0


class TestMmrSelect:
    def test_diversity_beats_pure_relevance(self, spark):
        """Three near-duplicate vectors near the query plus one distinct
        direction: pure top-k would take the three clones; MMR's second
        pick must jump to the diverse vector."""
        from aws_glue_cdc_metrics_job_spark.operators.similarity import mmr_select

        rows = [
            (0, [1.0, 0.0, 0.0]),          # query
            (1, [0.999, 0.04, 0.0]),       # clone A (most relevant)
            (2, [0.998, 0.05, 0.0]),       # clone B
            (3, [0.997, 0.06, 0.0]),       # clone C
            (4, [0.6, 0.0, 0.8]),          # diverse, less relevant
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = mmr_select(df, query_id=0, k=3, pool=4, lam_ppm=500000).collect()
        picks = [r["VEC_ID"] for r in sorted(out, key=lambda r: r["SELECT_RANK"])]
        assert picks[0] == 1            # most relevant first
        assert picks[1] == 4            # diversity overrides clone B
        assert out[0]["MAX_SIM_PPM"] == 0
        assert all(r["MMR_SCORE"] == 500000 * r["REL_PPM"] - 500000 * r["MAX_SIM_PPM"] for r in out)

    def test_lambda_one_reduces_to_topk(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.similarity import (
            brute_force_topk,
            mmr_select,
        )
        from pyspark.sql import functions as F

        rows = [(i, [float((i * 7 + d * 3) % 11), float((i + d) % 5), 1.0])
                for i in range(8) for d in [0]]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        mmr = mmr_select(df, query_id=0, k=4, pool=7, lam_ppm=10**6).collect()
        top = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=4).collect()
        mmr_ids = [r["VEC_ID"] for r in sorted(mmr, key=lambda r: r["SELECT_RANK"])]
        top_ids = [r["NEIGHBOR_ID"] for r in sorted(top, key=lambda r: r["RANK"])]
        assert mmr_ids == top_ids  # lambda=1: diversity term vanishes

    def test_lambda_validation(self, spark):
        import pytest

        from aws_glue_cdc_metrics_job_spark.operators.similarity import mmr_select

        df = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError):
            mmr_select(df, 0, lam_ppm=-1)
