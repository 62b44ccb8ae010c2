"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench/tests -q

None of them starts Spark: the generator and the checks run on pyarrow,
pandas and DuckDB, and the event-log parser reads a small log recorded
from a real Spark 4.1 run (`data/eventlog-small.jsonl`: a four-partition group-by count, which
AQE runs as two jobs, a four-task map stage and a one-task result stage;
trimmed to the job, stage and task events and fields the parser reads).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import client  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
from spans import Tracer  # noqa: E402

LOG = [os.path.join(HERE, "data", "eventlog-small.jsonl")]


def _digests(out_dir: str) -> dict[str, str]:
    return {name: hashlib.sha256(open(os.path.join(out_dir, name), "rb")
                                 .read()).hexdigest()
            for name in sorted(os.listdir(out_dir))}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _spec() -> dict:
    with open(os.path.join(BENCH, "spec.json")) as fh:
        return json.load(fh)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 0.01, 7)
    b = gen.write_tables(str(tmp_path / "b"), 0.01, 7)
    assert a == b
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    s1 = gen.stream_files(str(tmp_path / "s1"), 3000, 4, 6, 7)
    s2 = gen.stream_files(str(tmp_path / "s2"), 3000, 4, 6, 7)
    assert s1 == s2
    assert _digests(str(tmp_path / "s1")) == _digests(str(tmp_path / "s2"))


def test_generator_seed_changes_values_not_sizes(tmp_path):
    a = gen.build_tables(0.01, 1)
    b = gen.build_tables(0.01, 2)
    for name in gen.TABLES:
        assert a[name].num_rows == b[name].num_rows, name
        assert a[name].schema == b[name].schema, name
    for name in ("lineitem", "orders", "events", "documents", "embeddings"):
        assert not a[name].equals(b[name]), name
    # Each document has exactly one perturbed copy.
    docs = a["documents"].to_pydict()
    n = len(docs["doc_id"]) // 2
    by_id = dict(zip(docs["doc_id"], docs["text"]))
    same = sum(by_id[i] == by_id[i + n] for i in range(n))
    assert same < n // 10
    for i in range(n):
        assert len(by_id[i].split()) == len(by_id[i + n].split())


def test_stream_files_keep_every_event_and_deliver_some_late(tmp_path):
    import pyarrow.parquet as pq

    stats = gen.stream_files(str(tmp_path), 4000, 5, 6, 3)
    files = sorted(os.listdir(tmp_path))
    parts = [pq.read_table(os.path.join(tmp_path, f)) for f in files]
    ids = sorted(i for p in parts for i in p.column("event_id").to_pylist())
    assert ids == list(range(4000)) and stats["files"] == 5
    ts = [p.column("ts").to_pylist() for p in parts]
    assert any(min(ts[k]) < max(ts[k - 1]) for k in range(1, len(ts)))
    mtimes = [os.path.getmtime(os.path.join(tmp_path, f)) for f in files]
    assert mtimes == sorted(mtimes)


def test_eventlog_parser_on_recorded_log():
    log = eventlog.EventLog.load(LOG)
    assert len(log.jobs) == 2 and len(log.stages) == 2 and len(log.tasks) == 5
    start, end = min(log.jobs), max(t["launch"] + t["duration"] for t in log.tasks)
    m = log.window(start, end, cores=2)
    assert set(m) == set(eventlog.METRICS)
    assert (m["jobs"], m["stages"], m["tasks"]) == (2, 2, 5)
    assert m["shuffle_write_mb"] > 0 and m["shuffle_read_mb"] > 0
    assert 0 < m["cpu_share"] <= 1.5 and m["task_skew"] >= 1
    assert m["task_run_s"] == pytest.approx(
        sum(t["run_s"] for t in log.tasks))
    outside = log.window(end + 10, end + 20, cores=2)
    assert (outside["jobs"], outside["tasks"]) == (0, 0)


def test_every_emitted_metric_is_declared():
    bench = _benchmark_json()
    declared = {m["name"] for m in bench["per_layer"]}
    tracer = Tracer("t")
    args = argparse.Namespace(run_id="t", trace=1, input_bytes=1000,
                              workload="dedup_similarity")
    c = client.Client(args, _spec()["workloads"])
    c.tracer = tracer
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            pass
    log = eventlog.EventLog.load(LOG)
    t0 = min(log.jobs)
    c.windows = [{"start": t0 - 1, "end": t0 + 60} for _ in range(2)]
    with tracer.span("queries.construct", query="q", module="dedup") as s:
        pass
    s["start"] = s["end"] = t0
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    layers, _ = c.per_layer({"times": [2.0, 1.0]}, LOG)
    # run.py adds the memory it samples from outside the client.
    assert set(layers) | {"process.peak_rss_mb"} == declared
    end_to_end = {m["name"] for m in bench["end_to_end"]}
    assert end_to_end == {"setup_s", "cold_pass_s", "warm_pass_s"}


def test_benchmark_json_matches_spec():
    bench = _benchmark_json()
    spec = _spec()
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    per_layer = {m["name"] for m in bench["per_layer"]}
    assert set(spec["moves"]) == per_layer


def _oracle_case(tmp_path):
    gen.write_tables(str(tmp_path), 0.01, 5)
    from data_pipelines_course_spark import queries

    name = "tpch_q3_unshipped_revenue"
    oracle = check.oracle_results(str(tmp_path),
                                    {name: queries.all_oracles()[name]})
    return name, oracle[name]


def test_planted_wrong_result_fails_the_oracle_check(tmp_path):
    name, truth = _oracle_case(tmp_path)
    assert len(truth) > 1
    assert check.oracle_mismatch(truth.copy(), truth, name) is None
    wrong = truth.copy()
    col = next(c for c in wrong.columns if wrong[c].dtype.kind == "f")
    wrong.loc[0, col] += 0.01
    assert "mismatch" in check.oracle_mismatch(wrong, truth, name)
    assert check.oracle_mismatch(truth.iloc[1:], truth, name)

    args = argparse.Namespace(run_id="t", trace=0, data=str(tmp_path),
                              workload="dedup_similarity")
    c = client.Client(args, _spec()["workloads"])
    c.check_batch({name: [truth.copy(), wrong, None]})
    assert list(c.failures) == [f"{name}#1"]


def test_rows_only_check_flags_empty_and_changed_results():
    import pandas as pd

    good = pd.DataFrame({"a": [1, 2], "b": [3, 4]})
    same = good.iloc[::-1].reset_index(drop=True)
    assert check.rows_only_failures("q", [good, same]) == {}
    changed = pd.DataFrame({"a": [1, 2], "b": [3, 5]})
    assert set(check.rows_only_failures("q", [good, changed, good])) == {1}
    assert set(check.rows_only_failures("q", [good, good.iloc[:0]])) == {1}
