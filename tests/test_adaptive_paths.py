"""Every driver-local vs distributed switch goes through one bounded probe,
``operators.dedup.collect_if_small``. Forcing that probe to return None
runs each site's distributed form; the rows must not depend on which
branch fired."""

import hashlib

import pyarrow as pa
import pytest

from datapipeline_ops_spark.operators import dedup as dedup_ops
from datapipeline_ops_spark.queries import QUERIES
from datapipeline_ops_spark.queries import graph_queries as gq
from datapipeline_ops_spark.queries import kmeans_loop as km
from datapipeline_ops_spark.queries import lm_quality


def _rows_key(df):
    cols = sorted(df.columns)
    return sorted((tuple((c, r[c]) for c in cols) for r in df.collect()), key=repr)


def _bpe(spark, d):
    v, rows = lm_quality._bpe_run_loop(spark, d)
    stats = rows[0]
    for r in rows[1:]:
        stats = stats.unionByName(r)
    return _rows_key(stats), _rows_key(v.select("token", "n", "nb", "s", "na"))


def _graph(spark, d):
    return (
        _rows_key(gq.triangle_copurchase_stats(spark, d)),
        _rows_key(gq.bfs_reach_3hop(spark, d)),
    )


def _queries(*names):
    return lambda spark, d: {n: _rows_key(QUERIES[n].fn(spark, d)) for n in names}


def _cc_hashed(spark, d):
    edges = []
    for i in range(150):
        h = int(hashlib.md5(f"cc2:{i}".encode()).hexdigest()[:8], 16)
        edges.append((h % 80, (h >> 8) % 80))
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    return _rows_key(dedup_ops.connected_components(pairs))


def _lineitem(rows):
    def write(tmp_path):
        from test_fuzz_oracle_parity import _copy_rows

        schema = [("l_orderkey", pa.int64()), ("l_partkey", pa.int64())]
        _copy_rows(tmp_path, "lineitem", schema, rows)

    return write


def _drained_docs(tmp_path):
    from test_training_loops import _write_docs

    # the vocab drains to single symbols before the merge budget: merges
    # past the drain publish zero rows in both loops
    _write_docs(tmp_path, [(1, "ab ab", "web"), (2, "ab", "books")])


# id -> (run, input writer or None for sf0.001, sanity check on the rows)
CASES = {
    "bpe_sf0.001": (_bpe, None, lambda r: len(r[0]) == lm_quality._BPE_LOOP_MERGES),
    "bpe_drained_vocab": (
        _bpe, _drained_docs, lambda r: len(r[0]) < lm_quality._BPE_LOOP_MERGES
    ),
    "graph_sf0.001": (_graph, None, lambda r: len(r[0]) == 1 and len(r[1]) >= 1),
    # every order holds one part: zero pairs, empty edge set
    "graph_empty": (_graph, _lineitem([(1, 10), (2, 11), (3, 12)]), None),
    # parts (1, 2) co-purchased in two orders: exactly one edge
    "graph_one_edge": (
        _graph, _lineitem([(1, 1), (1, 2), (2, 1), (2, 2), (3, 7)]), None
    ),
    "kmeans_sf0.001": (
        _queries("kmeans_train_loop", "kmeans_assign_apply", "kmeans_artifact_apply"),
        None,
        lambda r: len(r["kmeans_train_loop"]) == km._KM_ITERS + 1
        and len(r["kmeans_assign_apply"]) >= 1,
    ),
    "cc_hashed_graph": (_cc_hashed, None, None),
    "embedding_dedup_keepers": (
        _queries("embedding_dedup_keepers"), None,
        lambda r: len(r["embedding_dedup_keepers"]) >= 1,
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_driver_and_distributed_branches_agree(
    spark, sf_dir, tmp_path_factory, monkeypatch, case
):
    run, write_input, sane = CASES[case]
    if write_input is not None:
        sf_dir = tmp_path_factory.mktemp(case)
        write_input(sf_dir)
        sf_dir = str(sf_dir)
    real = dedup_ops.collect_if_small
    probes = []

    def spy(df, cap):
        probes.append(real(df, cap))
        return probes[-1]

    def branch(probe):
        # clear_barriers also drops the BPE/kmeans memos, so each run
        # reaches its probe instead of a memo hit
        probes.clear()
        dedup_ops.clear_barriers()
        monkeypatch.setattr(dedup_ops, "collect_if_small", probe)
        try:
            return run(spark, sf_dir)
        finally:
            dedup_ops.clear_barriers()

    def forced(df, cap):
        probes.append(None)
        return None

    local = branch(spy)
    assert probes and all(t is not None for t in probes), "driver branch fired"
    dist = branch(forced)
    assert probes, "distributed branch went through the probe"
    assert local == dist
    assert sane is None or sane(local)


def test_collect_if_small_one_bounded_job(spark):
    sc = spark.sparkContext
    cap = 5

    def probe(n):
        group = f"collect_if_small:{n}"
        sc.setJobGroup(group, group)
        try:
            tbl = dedup_ops.collect_if_small(spark.range(0, n, 1, 2), cap)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        return tbl

    assert probe(cap).column("id").to_pylist() == list(range(cap))
    assert probe(cap + 1) is None
    empty = probe(0)
    assert empty.num_rows == 0 and empty.schema.names == ["id"]
