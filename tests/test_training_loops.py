"""Driver-side training loops: the session memo that holds their trained
state, the driver-side Spark-round replica, the driver-local Lloyd loop's
edge cases, and the mini-batch SGD empty-batch carry-over (the driver vs
distributed equivalence tests live in tests/test_adaptive_paths.py)."""

import random
from types import SimpleNamespace

import pyspark.sql.functions as F

from datapipeline_ops_spark.operators import dedup as dedup_ops
from datapipeline_ops_spark.queries import kmeans_loop as km
from datapipeline_ops_spark.queries import lm_quality


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_memo_keys_and_clears(monkeypatch):
    """One compute per (applicationId, sf_dir); another dir or app id
    computes again; clear_barriers() empties every memo; cache_clear()
    empties only its own. Runs no Spark job."""
    assert all(
        any(fn.cache_clear.__self__ is m for m in dedup_ops._MEMOS)
        for fn in (lm_quality._qct_run, lm_quality._bpe_run_loop, km._km_run)
    )
    assert km._km_memo_clear == km._km_run.cache_clear
    monkeypatch.setattr(dedup_ops, "_MEMOS", [])
    monkeypatch.setattr(dedup_ops, "_BARRIERS", {})
    calls = []

    @dedup_ops.session_memo
    def train(spark, sf_dir):
        calls.append(("train", spark.sparkContext.applicationId, sf_dir))
        return object()

    @dedup_ops.session_memo
    def fit(spark, sf_dir):
        calls.append(("fit", spark.sparkContext.applicationId, sf_dir))
        return object()

    a, b = _session("app-1"), _session("app-2")
    first = train(a, "d1")
    assert train(a, "d1") is first and len(calls) == 1
    assert train(a, "d2") is not first and len(calls) == 2
    assert train(b, "d1") is not first and len(calls) == 3
    assert train(_session("app-1"), "d1") is first and len(calls) == 3

    fit(a, "d1")
    train.cache_clear()
    train(a, "d1")
    fit(a, "d1")
    assert calls[-1] == ("train", "app-1", "d1") and len(calls) == 5

    dedup_ops.clear_barriers()
    train(a, "d1")
    fit(a, "d1")
    assert calls[-2:] == [("train", "app-1", "d1"), ("fit", "app-1", "d1")]


def test_qct_memo_keeps_each_datasets_feature_barrier(spark, sf_dir, tmp_path_factory):
    """Alternating two datasets in one session: the memoized feature table
    of the first must still be persisted after the second was trained
    (a barrier site shared across datasets unpersisted it, and every
    later consumer silently re-derived the features from parquet)."""
    tmp_path = tmp_path_factory.mktemp("qct_other")
    _write_docs(
        tmp_path,
        [
            (1, "the quick brown fox jumps over a lazy dog", "web"),
            (2, "a a the the compression is all you need", "books"),
        ],
    )
    dedup_ops.clear_barriers()
    try:
        first = lm_quality._qct_run(spark, sf_dir)[0]
        lm_quality._qct_run(spark, str(tmp_path))
        again = lm_quality._qct_run(spark, sf_dir)[0]
        assert again is first
        level = again.storageLevel
        assert level.useMemory or level.useDisk, level
    finally:
        dedup_ops.clear_barriers()


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
    dedup_ops.clear_barriers()
    _run_pair(spark, tmp_path, ["minibatch_sgd_train"], ["documents"])
    dedup_ops.clear_barriers()
