"""Semantic tests for the decomposition family: covariance symmetry
guarantees (diag = variance, |corr| <= 1, corr diag = 1), JL projection
norm preservation in expectation, and mixture-weight invariants
(weights/eff shares sum to 1, epoch cap respected)."""

import math

import numpy as np
import pyspark.sql.functions as F

from datapipeline_ops_spark.queries.curation_extra import (
    MIX_MAX_EPOCHS,
    mixture_temperature_weights,
)
from datapipeline_ops_spark.queries.decomposition import (
    EMB_DIM,
    JL_K,
    _JL_ROWS,
    embedding_pca_covariance,
    jl_random_projection,
)
from datapipeline_ops_spark.tables import load_table


def test_covariance_matches_numpy(spark, sf_dir):
    rows = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ref = np.cov(X, rowvar=False, bias=True)  # population covariance
    got = {
        (r.dim_i, r.dim_j): (r.cov, r.corr)
        for r in embedding_pca_covariance(spark, sf_dir).collect()
    }
    assert len(got) == EMB_DIM * (EMB_DIM + 1) // 2
    for (i, j), (cov, corr) in got.items():
        assert i <= j
        assert math.isclose(cov, ref[i - 1, j - 1], rel_tol=1e-9, abs_tol=1e-12)
        assert corr <= 1.0 + 1e-12 and corr >= -1.0 - 1e-12
        if i == j:
            assert math.isclose(corr, 1.0, rel_tol=1e-12)


def test_jl_projection_properties(spark, sf_dir):
    # the embedded sign matrix is genuinely +-1 and deterministic
    assert len(_JL_ROWS) == JL_K and all(len(r) == EMB_DIM for r in _JL_ROWS)
    assert all(s in (1.0, -1.0) for row in _JL_ROWS for s in row)
    out = jl_random_projection(spark, sf_dir, ).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(out) == n
    ratios = [r.norm_ratio for r in out]
    # JL guarantee: E[||proj||^2 / ||x||^2] = 1; loose band for K=8
    assert 0.6 < sum(ratios) / len(ratios) < 1.4
    # spot-check one projection against numpy with the same matrix
    row = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").first()
    proj = np.array(_JL_ROWS) @ np.array(row.embedding, dtype=np.float64)
    proj /= math.sqrt(JL_K)
    got = next(r for r in out if r.vec_id == row.vec_id)
    for k in range(JL_K):
        assert math.isclose(got[f"p{k + 1}"], proj[k], rel_tol=1e-9)


def test_mixture_weights_invariants(spark, sf_dir):
    out = mixture_temperature_weights(spark, sf_dir).collect()
    assert len(out) >= 2
    assert math.isclose(sum(r.weight for r in out), 1.0, rel_tol=1e-9)
    assert math.isclose(sum(r.eff_share for r in out), 1.0, rel_tol=1e-9)
    for r in out:
        assert 0.0 < r.epochs <= MIX_MAX_EPOCHS + 1e-12
        assert math.isclose(r.eff_tokens, r.epochs * r.n_tokens, rel_tol=1e-12)
    # temperature flattening: weight ordering follows token-count ordering
    by_tok = sorted(out, key=lambda r: r.n_tokens)
    weights = [r.weight for r in by_tok]
    assert weights == sorted(weights)


def test_class_scatter_direction_matches_numpy(spark, sf_dir):
    from datapipeline_ops_spark.queries.decomposition import (
        TOP_LOADINGS,
        class_scatter_direction,
    )

    rows = load_table(spark, sf_dir, "embeddings").select("label", "embedding").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    lab = np.array([r.label for r in rows])
    mu = X.mean(0)
    B = np.zeros((EMB_DIM, EMB_DIM))
    for lv in np.unique(lab):
        w = (lab == lv).sum() / len(lab)
        d = X[lab == lv].mean(0) - mu
        B += w * np.outer(d, d)
    ev, V = np.linalg.eigh(B)
    v1 = V[:, -1]

    out = class_scatter_direction(spark, sf_dir).collect()
    assert [r.rank for r in out] == list(range(1, TOP_LOADINGS + 1))
    lam = out[0].lambda1
    assert math.isclose(lam, ev[-1], rel_tol=1e-3)  # power-iter estimate
    assert 0.0 < out[0].scatter_share <= 1.0
    # the emitted loadings align with the numpy eigenvector (up to sign)
    got = {r.dim: r.loading for r in out}
    sign = 1.0 if sum(got[d] * v1[d - 1] for d in got) >= 0 else -1.0
    for d, loading in got.items():
        assert abs(loading - sign * v1[d - 1]) < 5e-3
    # ranks genuinely order by |loading|
    mags = [abs(r.loading) for r in out]
    assert mags == sorted(mags, reverse=True)


def test_pq_code_assign_matches_numpy(spark, sf_dir):
    from datapipeline_ops_spark.queries.decomposition import (
        PQ_K,
        PQ_M,
        _PQ_SUB,
        pq_code_assign,
    )

    rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    cent = {
        (m, k): X[k][m * _PQ_SUB : (m + 1) * _PQ_SUB]
        for m in range(PQ_M)
        for k in range(PQ_K)
    }
    out = {r.vec_id: r for r in pq_code_assign(spark, sf_dir).collect()}
    assert set(out) == set(X)
    for vid, x in X.items():
        codes = []
        err = 0.0
        for m in range(PQ_M):
            sub = x[m * _PQ_SUB : (m + 1) * _PQ_SUB]
            dists = [float(np.sum((sub - cent[(m, k)]) ** 2)) for k in range(PQ_K)]
            k_best = min(range(PQ_K), key=lambda k: (dists[k], k))
            codes.append(k_best)
            err += dists[k_best]
        packed = sum(k << (2 * m) for m, k in enumerate(codes))
        assert out[vid].pq_code == packed, vid
        assert abs(out[vid].recon_err - err) < 1e-9 * max(err, 1.0)
    # codebook vectors quantize to themselves with zero subspace error
    for k in range(PQ_K):
        assert out[k].recon_err < 1e-12


def test_ivf_pq_topk_semantics(spark, sf_dir):
    from datapipeline_ops_spark.queries.decomposition import (
        IVFPQ_SHORTLIST,
        IVFPQ_TOPK,
        ann_ivf_pq_topk,
    )

    out = ann_ivf_pq_topk(spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= IVFPQ_TOPK
        # rerank order is by exact cosine descending
        coss = [r.cos for r in rows]
        assert coss == sorted(coss, reverse=True)
        # ADC is a squared distance: non-negative
        assert all(r.adc >= 0.0 for r in rows)
        assert all(r.vec_id != qid for r in rows)


def test_pca_covariance_single_pass_matches_numpy(spark, sf_dir):
    """The fused single-pass moments form of embedding_pca_covariance must
    still reproduce the population covariance (the separate-passes form was
    pinned to numpy the same way)."""
    rows = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ref = np.cov(X, rowvar=False, bias=True)
    got = {
        (r.dim_i, r.dim_j): r.cov
        for r in embedding_pca_covariance(spark, sf_dir).collect()
    }
    assert len(got) == EMB_DIM * (EMB_DIM + 1) // 2
    for (i, j), cov in got.items():
        assert math.isclose(cov, ref[i - 1, j - 1], rel_tol=1e-9, abs_tol=1e-12)
