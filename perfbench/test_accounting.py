"""Failure accounting of the benchmark, without Spark: a pass over fake
builders and a parquet sink, checked against DuckDB oracles.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from inputs import generate  # noqa: E402
from oracle import OracleCache, Result, check_pass, fail_ratio  # noqa: E402
from run import first_errors, run_pass  # noqa: E402

ORACLES = {
    "ids": "SELECT doc_id FROM documents",
    "langs": "SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang",
}


class FakeFrame:
    def __init__(self, table: pa.Table):
        self.table = table
        self.columns = table.column_names


@pytest.fixture()
def env(tmp_path):
    inp = str(tmp_path / "input")
    info = generate(inp, seed=7, sizes={"documents": 50})
    docs = pq.read_table(os.path.join(inp, "documents.parquet"))
    langs = docs.group_by("lang").aggregate([("doc_id", "count")])
    frames = {
        "ids": FakeFrame(docs.select(["doc_id"])),
        "langs": FakeFrame(langs.rename_columns(["lang", "n"])),
    }

    calls = {"flaky": 0}

    def build(q):
        if q == "boom":
            raise RuntimeError("builder failed")
        if q == "flaky":
            calls[q] += 1
            if calls[q] == 1:
                raise RuntimeError("first pass only")
            return frames["ids"]
        return frames[q]

    def sink(q, df, path):
        os.makedirs(path, exist_ok=True)
        pq.write_table(df.table, os.path.join(path, "part-0.parquet"))

    cache = OracleCache(str(tmp_path / "oracle"), "unit", 7, info["sha256"])
    return inp, build, sink, str(tmp_path / "out"), cache


def _check(env, queries, oracles, passes=1):
    inp, build, sink, out, cache = env
    runs = []
    for _ in range(passes):
        written, errors, _ = run_pass(queries, build, sink, out)
        runs.append({"written": written, "errors": errors})
    return check_pass(queries, written, first_errors(runs), oracles, cache, inp)


def test_matching_results_pass(env):
    outcomes = _check(env, ["ids", "langs"], ORACLES)
    assert [o.problems for o in outcomes] == [[], []]
    assert fail_ratio(outcomes) == 0.0


def test_wrong_expected_hash_counts_as_failed(env):
    cache = env[4]
    good = _check(env, ["ids"], ORACLES)
    assert fail_ratio(good) == 0.0
    want = cache.get("ids", ORACLES["ids"])
    cache.put("ids", ORACLES["ids"], Result(want.cols, want.rows, "0" * 16))
    outcomes = _check(env, ["ids", "langs"], ORACLES)
    assert fail_ratio(outcomes) == 0.5
    assert "value hash" in outcomes[0].problems[0]


def test_raising_query_counts_as_failed_and_pass_continues(env):
    outcomes = _check(env, ["boom", "ids", "langs"], {**ORACLES, "boom": "SELECT 1 AS x"})
    assert [o.failed for o in outcomes] == [True, False, False]
    assert outcomes[0].problems[0].startswith("raised: RuntimeError")
    assert fail_ratio(outcomes) == pytest.approx(1 / 3)


def test_query_raising_in_an_earlier_pass_counts_as_failed(env):
    oracles = {**ORACLES, "flaky": ORACLES["ids"]}
    outcomes = _check(env, ["flaky", "ids"], oracles, passes=2)
    assert [o.failed for o in outcomes] == [True, False]
    assert "first pass only (pass 1 of 2)" in outcomes[0].problems[0]
    assert fail_ratio(outcomes) == 0.5


def test_changed_oracle_sql_misses_the_cache(env):
    cache = env[4]
    _check(env, ["ids"], ORACLES)
    want = cache.get("ids", ORACLES["ids"])
    cache.put("ids", ORACLES["ids"], Result(want.cols, want.rows, "0" * 16))
    fixed = {"ids": ORACLES["ids"] + " WHERE doc_id >= 0"}
    assert cache.get("ids", fixed["ids"]) is None
    assert fail_ratio(_check(env, ["ids"], fixed)) == 0.0


def test_changed_input_misses_the_cache(tmp_path):
    root = str(tmp_path / "oracle")
    a = generate(str(tmp_path / "a"), 7, {"documents": 50})
    b = generate(str(tmp_path / "b"), 7, {"documents": 51})
    OracleCache(root, "unit", 7, a["sha256"]).put("q", "SELECT 1", Result(("x",), 1, "h"))
    assert OracleCache(root, "unit", 7, a["sha256"]).get("q", "SELECT 1") is not None
    assert OracleCache(root, "unit", 7, b["sha256"]).get("q", "SELECT 1") is None


def test_missing_oracle_counts_as_failed(env):
    outcomes = _check(env, ["ids"], {"ids": None})
    assert fail_ratio(outcomes) == 1.0


def test_inputs_are_seeded(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sizes = {"documents": 40, "embeddings": 20, "orders": 30, "part": 10}
    assert generate(a, 3, sizes) == generate(b, 3, sizes)
    for name in sizes:
        ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{name}.parquet")))
