"""Round-15 optimization tests: the driver-side Spark-round replica and the
driver-local Lloyd loop's edge cases must be exact (the driver vs
distributed equivalence tests live in tests/test_adaptive_paths.py)."""

import random

import pyspark.sql.functions as F

from datapipeline_ops_spark.queries import kmeans_loop as km


def test_km_r6_matches_spark_round(spark):
    """_km_r6 must reproduce Spark's ``round(x, 6) + 0.0`` on DOUBLE for
    adversarial values: exact 6-dp half-way points, shortest-repr boundary
    cases, signed zeros, and random magnitudes."""
    from datapipeline_ops_spark.tables import local_frame

    random.seed(15)
    vals = [0.0, -0.0, 0.9999995, -0.9999995, 2.6749999999999998,
            1234.5678905, -1234.5678905, 1e-7, -1e-7, 123456.7890125]
    for k in range(-30, 30):
        vals.append(k / 2_000_000.0)
        vals.append(k / 1_000_000.0 + 5e-7)
    for _ in range(500):
        vals.append(random.uniform(-1e5, 1e5))
    for _ in range(200):
        vals.append(random.uniform(-5, 5))
    df = local_frame(
        spark, [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    got = {
        r["i"]: r["y"]
        for r in df.select("i", (F.round("x", 6) + F.lit(0.0)).alias("y")).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == km._km_r6(v), (v, got[i], km._km_r6(v))
    assert km._km_r6(None) is None


def test_km_driver_lloyd_edge_cases(spark):
    """Seedless and empty corpora walk the distributed semantics exactly:
    NULL inertia, zero active clusters, stage-0 n_moved pinned to 0,
    NULL n_moved afterwards, empty rollup."""
    # empty corpus
    cents, stats, rollup = km._km_driver_lloyd([])
    assert rollup == []
    assert all(c == {} for c in cents)
    for it, inertia, n_active, n_moved in stats:
        assert inertia is None and n_active == 0
        assert n_moved == (0 if it == 0 else None)
    # seedless corpus: vec_ids entirely outside the IVF seed range
    from datapipeline_ops_spark.queries.similarity import IVF_CENTROIDS

    hi = IVF_CENTROIDS[1] + 1000
    rows = [(hi + i, [float(i + d) for d in range(64)]) for i in range(5)]
    cents, stats, rollup = km._km_driver_lloyd(rows)
    assert rollup == []
    assert all(c == {} for c in cents)
    for it, inertia, n_active, n_moved in stats:
        assert inertia is None and n_active == 0
        assert n_moved == (0 if it == 0 else None)


# ---------------------------------------------------------------------------
# r14 ADVICE edge case: an SGD batch key with zero rows (the drained-vocab
# and empty/one-edge graph cases are in tests/test_adaptive_paths.py).
# ---------------------------------------------------------------------------


def _write_docs(tmp_path, rows):
    import pyarrow as pa

    from test_fuzz_oracle_parity import _copy_rows

    _copy_rows(
        tmp_path,
        "documents",
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ],
        [(i, t, "en", s, len(t)) for i, t, s in rows],
    )


def test_sgd_empty_batch_matches_oracle(spark, tmp_path_factory):
    """doc_ids {1,2,3} leave batch key 0 (doc_id % _SGD_BATCHES) with zero
    rows: the empty-batch weight carry-over branch must still match the
    DuckDB oracle exactly."""
    from datapipeline_ops_spark.operators.dedup import clear_barriers
    from datapipeline_ops_spark.queries import lm_quality
    from test_fuzz_oracle_parity import _run_pair

    assert lm_quality._SGD_BATCHES == 4
    tmp_path = tmp_path_factory.mktemp("sgd_empty")
    _write_docs(
        tmp_path,
        [
            (1, "the quick brown fox jumps over a lazy dog", "web"),
            (2, "a a the the compression is all you need", "books"),
            (3, "tiny", "code"),
        ],
    )
    clear_barriers()
    lm_quality._qct_memo_clear()
    _run_pair(spark, tmp_path, ["minibatch_sgd_train"], ["documents"])
    lm_quality._qct_memo_clear()
    clear_barriers()
