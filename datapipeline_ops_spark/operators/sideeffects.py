"""Side-effecting partition runners with retry — the engine's home for the
reference's subprocess work (ffmpeg cuts, object-store uploads).

The reference retries flaky subprocesses inside the op with exponential
backoff (``ffmpeg_cut_op.py:40-56``: 3 attempts, ``2**attempt + random()``
seconds). Spark's own unit of retry is the whole task — far more expensive
than re-running one ffmpeg invocation — so fine-grained retry stays inside
the partition function here too, and the task only fails after the budget
is exhausted *and* the caller asked for raise-on-failure (default is the
error-as-data contract: record the failure, keep the partition alive).
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame

Sleeper = Callable[[float], None]


@dataclass
class RetryPolicy:
    """``ffmpeg_cut_op.py:16,40-56`` semantics: max_retry attempts, backoff
    ``2**attempt + uniform(0,1)`` seconds between them."""

    max_attempts: int = 3
    jitter: Callable[[], float] = random.random
    sleeper: Sleeper = time.sleep

    def run(self, fn: Callable[[], None]) -> tuple[int, str | None]:
        """Returns (status, error): status 1 on success, 0 after exhausting
        attempts; error carries the last exception text (error-as-data)."""
        err: str | None = None
        for attempt in range(self.max_attempts):
            try:
                fn()
                return 1, None
            except Exception as exc:  # noqa: BLE001 - error-as-data boundary
                err = f"{type(exc).__name__}: {exc}"
                if attempt + 1 < self.max_attempts:
                    self.sleeper(2**attempt + self.jitter())
        return 0, err


def run_with_status(
    df: DataFrame,
    key_col: str,
    action: Callable[[str], None],
    policy: RetryPolicy | None = None,
) -> DataFrame:
    """mapInPandas variant that RETURNS the outcome as data: (key, status,
    error) per row — the relational surface of the cut executor
    (``ffmpeg_cut_op.py:92-108`` writes cut_status/cut_error)."""
    import pandas as pd

    policy = policy or RetryPolicy()

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = [policy.run(lambda k=k: action(k)) for k in pdf[key_col].astype(str)]
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].values,
                    "status": [s for s, _ in out],
                    "error": [e for _, e in out],
                }
            )

    schema = f"{key_col} string, status int, error string"
    return df.select(df[key_col].cast("string").alias(key_col)).mapInPandas(run, schema=schema)
