"""Result checks: every written query result against its DuckDB oracle.

A result is correct when its row count, its column-name set and its
order-insensitive value hash (``tools/check_correctness.value_hash``) equal
the oracle's on the same input. Oracle results are cached on disk per
(workload, seed, query), so a seed that was run before skips DuckDB. The
cache key also holds a digest of the generated input files and of the
query's oracle SQL, so a change to the input generator, the input sizes or
an oracle misses the cache instead of reading a stale result.

A query that raised during the pass, has no oracle, or whose written output
differs from the oracle counts as failed; the pass itself never stops on a
failure.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from dataclasses import dataclass, field

import duckdb

from tools.check_correctness import value_hash

ORACLE_TABLES = ("documents", "embeddings", "orders", "part")


@dataclass(frozen=True)
class Result:
    cols: tuple[str, ...]
    rows: int
    hash: str


@dataclass
class Outcome:
    query: str
    problems: list[str] = field(default_factory=list)

    @property
    def failed(self) -> bool:
        return bool(self.problems)


def connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET TimeZone = 'UTC'")
    for t in ORACLE_TABLES:
        path = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _result(cur: duckdb.DuckDBPyConnection) -> Result:
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return Result(tuple(sorted(cols)), len(rows), value_hash(cols, rows))


def run_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> Result:
    return _result(con.execute(sql))


def read_written(con: duckdb.DuckDBPyConnection, path: str, columns: list[str]) -> Result:
    """The result a sink wrote as a parquet directory. An empty result may
    leave no data file; its columns are then the frame's."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return Result(tuple(sorted(columns)), 0, value_hash(columns, []))
    listing = ", ".join(f"'{f}'" for f in files)
    return _result(con.execute(f"SELECT * FROM read_parquet([{listing}])"))


class OracleCache:
    """Oracle results of one (workload, seed) on one generated input, one
    JSON file per (query, oracle SQL)."""

    def __init__(self, root: str, workload: str, seed: int, input_digest: str):
        self.dir = os.path.join(root, workload, str(seed), input_digest[:16])

    def _path(self, query: str, sql: str) -> str:
        sql_digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        return os.path.join(self.dir, f"{query}-{sql_digest}.json")

    def get(self, query: str, sql: str) -> Result | None:
        try:
            with open(self._path(query, sql)) as f:
                d = json.load(f)
        except (OSError, ValueError):
            return None
        return Result(tuple(d["cols"]), d["rows"], d["hash"])

    def put(self, query: str, sql: str, res: Result) -> None:
        os.makedirs(self.dir, exist_ok=True)
        path = self._path(query, sql)
        with open(path + ".tmp", "w") as f:
            json.dump({"cols": list(res.cols), "rows": res.rows, "hash": res.hash}, f)
        os.replace(path + ".tmp", path)


def expected(cache: OracleCache, con, query: str, sql: str | None) -> Result | None:
    if sql is None:
        return None
    res = cache.get(query, sql)
    if res is None:
        res = run_oracle(con, sql)
        cache.put(query, sql, res)
    return res


def compare(want: Result | None, got: Result) -> list[str]:
    if want is None:
        return ["no oracle registered"]
    problems = []
    if got.rows != want.rows:
        problems.append(f"rows {got.rows} != oracle {want.rows}")
    if got.cols != want.cols:
        problems.append(f"columns {list(got.cols)} != oracle {list(want.cols)}")
    if not problems and got.hash != want.hash:
        problems.append(f"value hash {got.hash} != oracle {want.hash}")
    return problems


def check_pass(
    queries: list[str],
    written: dict[str, tuple[str, list[str]]],
    errors: dict[str, str],
    oracle_sql: dict[str, str | None],
    cache: OracleCache,
    input_dir: str,
) -> list[Outcome]:
    """Check the written results: ``written`` maps a query to (output dir,
    columns) of the last pass; ``errors`` maps a query that raised in any
    pass to its first error."""
    con = connect(input_dir)
    try:
        outcomes = []
        for q in queries:
            out = Outcome(q)
            if q in errors:
                out.problems.append(f"raised: {errors[q]}")
            else:
                try:
                    want = expected(cache, con, q, oracle_sql.get(q))
                    got = read_written(con, *written[q])
                    out.problems.extend(compare(want, got))
                except Exception as e:  # noqa: BLE001 - a broken oracle is a failed check
                    out.problems.append(f"check error: {type(e).__name__}: {e}")
            outcomes.append(out)
        return outcomes
    finally:
        con.close()


def fail_ratio(outcomes: list[Outcome]) -> float:
    return sum(o.failed for o in outcomes) / max(len(outcomes), 1)
