"""Correctness checks, run after the timed passes.

- Oracle-backed queries: the result of every pass must match the query's
  DuckDB oracle SQL run on the same generated files, compared with the
  test suite's own comparator (`tests/conftest.py:assert_frames_match`:
  row count, column names, normalized values).
- Rows-only queries (no SQL oracle: LSH, SimHash, ANN, IVF): the result
  must be non-empty and hash the same on every pass.
- stream_ingest: the maintained rollup and SCD2 tables must equal a batch
  recompute over all input events, by the same diffs the `streamconv`
  convergence queries use, with 0 mismatched rows.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

from tests.conftest import _normalize, assert_frames_match

from gen import TABLES


class _Frame:
    """The two methods `assert_frames_match` calls on its operands, over
    an already-collected pandas result."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf

    def df(self) -> pd.DataFrame:
        return self._pdf


def oracle_results(data_dir: str, sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {name: con.sql(sql).df() for name, sql in sqls.items()}
    finally:
        con.close()


def oracle_mismatch(result: pd.DataFrame, oracle: pd.DataFrame,
                    name: str) -> str | None:
    """None when `result` matches the oracle, else the comparator's reason."""
    try:
        assert_frames_match(_Frame(result), _Frame(oracle), name)
    except AssertionError as exc:
        return str(exc)
    return None


def result_hash(result: pd.DataFrame) -> str:
    """Order-insensitive digest of a result (columns and rows sorted,
    floats rounded, as the comparator normalizes them)."""
    norm = _normalize(result)
    digest = hashlib.sha256(",".join(norm.columns).encode())
    digest.update(pd.util.hash_pandas_object(norm.astype(str),
                                             index=False).values.tobytes())
    return digest.hexdigest()


def rows_only_failures(name: str,
                       results: list[pd.DataFrame | None]) -> dict[int, str]:
    """pass -> reason, for each pass whose result is empty or hashes
    differently from the first pass that returned one."""
    hashes = [None if r is None else result_hash(r) for r in results]
    first = next((h for h in hashes if h is not None), None)
    out = {}
    for i, (r, h) in enumerate(zip(results, hashes)):
        if r is not None and r.empty:
            out[i] = f"{name}: pass {i} returned no rows"
        elif h is not None and h != first:
            out[i] = f"{name}: pass {i} result hash differs from pass 0"
    return out


def stream_mismatch_rows(spark, events, rollup_path: str, dim_path: str) -> int:
    """Rows where the stream-maintained rollup or SCD2 dimension differs
    from a batch recompute over `events` (all input events)."""
    from pyspark.sql import functions as F

    from data_pipelines_course_spark.operators.streamconv import (
        _rollup_mismatch_count,
    )
    from data_pipelines_course_spark.operators.temporal import scd2_intervals

    streamed = spark.read.parquet(rollup_path).select(
        "event_date", "event_type",
        F.col("n_events").cast("bigint").alias("n_events"), "sum_value")
    batch = (events.groupBy(F.to_date("ts").alias("event_date"), "event_type")
             .agg(F.count(F.lit(1)).cast("bigint").alias("b_n"),
                  F.sum("value").alias("b_sum")))
    mismatch = _rollup_mismatch_count(streamed, batch)
    dim = spark.read.parquet(dim_path).drop("bucket").select(
        "user_id", "run_seq", "state", "valid_from", "valid_to",
        "is_current", "n_events")
    truth = scd2_intervals(events.select("user_id", "event_id", "ts",
                                         "event_type"))
    return (mismatch + dim.exceptAll(truth).count()
            + truth.exceptAll(dim).count())
