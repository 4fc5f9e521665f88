"""Round-14 optimization tests: the fused single-pass covariance must stay
value-exact (the adaptive-path equivalence tests live in
tests/test_adaptive_paths.py)."""

import math


def test_pca_covariance_single_pass_matches_numpy(spark, sf_dir):
    """The fused single-pass moments form of embedding_pca_covariance must
    still reproduce the population covariance (the separate-passes form was
    pinned to numpy the same way)."""
    import numpy as np

    from datapipeline_ops_spark.queries.decomposition import (
        EMB_DIM,
        embedding_pca_covariance,
    )
    from datapipeline_ops_spark.tables import load_table

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
