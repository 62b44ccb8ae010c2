"""The benchmark's client: one closed loop in one process.

Started by perfbench/run.py with the engine package on PYTHONPATH and the
workload's generated inputs on disk. It times calls into the engine's
public functions from the outside and writes one JSON result file:

1. set-up: `session.get_spark`, `queries.load_registry` and one trivial
   job, timed from the moment run.py spawned this process;
2. a cold pass over the workload, then warm passes while the next one
   is expected to end within `--seconds` of the first warm pass's start
   (at least five). A batch pass rebuilds every query's frame and
   collects its result; stream_ingest drains its files once, and each
   micro-batch is a pass;
3. correctness checks on the collected results (perfbench/check.py);
4. with `--trace 1`: spans around the engine layers (perfbench/spans.py)
   and Spark's event log (perfbench/eventlog.py), reduced to the
   per-layer metrics.

Usage: see perfbench/run.py, which is the command the benchmark runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
import traceback
from contextlib import nullcontext

from spans import Tracer

import check

STREAM_STEPS = ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
                "latestOffset")
MIN_WARM_PASSES = 5


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"percentile": None, "value": None, "samples": n}
    return {"percentile": round(100 * (n - 10) / n, 1),
            "value": sorted(values)[n - 11], "samples": n}


class Client:
    def __init__(self, args, workloads: dict) -> None:
        self.args = args
        self.workloads = workloads
        self.spec = workloads[args.workload]
        self.tracer = Tracer(args.run_id) if args.trace else None
        self.failures: dict[str, str] = {}  # failed operation -> reason
        self.attempted = 0
        self.windows: list[dict] = []  # wall-clock interval of each pass
        self.progress: list[dict] = []  # stream_ingest: recentProgress
        self.stream_out = ""

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return nullcontext({})
        return self.tracer.span(name, **attrs)

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        from data_pipelines_course_spark import (
            datasets, memo, queries, session, staging)

        if self.tracer:
            # Before load_registry(): the operator modules it imports bind
            # these names at import time.
            for mod, attr, name in (
                    (memo, "evict_stale", "memo.evict_stale"),
                    (staging, "stage", "staging.stage"),
                    (datasets, "load", "datasets.load"),
                    (session, "get_spark", "session.get_spark"),
                    (queries, "load_registry", "queries.load_registry")):
                self.tracer.wrap_function(mod, attr, name)

        with self.span("setup"):
            self.spark = session.get_spark()
            queries.load_registry()
            if self.tracer:
                self.tracer.rebind()
            self.spark.range(1).count()
        return time.time() - self.args.spawned_at

    # -- passes ---------------------------------------------------------
    def run_passes(self, one_pass) -> list[float]:
        """Cold pass, then warm passes while the next one is expected to
        end within --seconds of the first warm pass's start."""
        times = [one_pass(0)]
        warm_start = time.perf_counter()
        while True:
            done = len(times) - 1
            elapsed = time.perf_counter() - warm_start
            if done >= MIN_WARM_PASSES and (
                    elapsed + times[-1] > self.args.seconds):
                break
            times.append(one_pass(len(times)))
        return times

    def batch(self) -> dict:
        from data_pipelines_course_spark import queries

        names = self.spec["queries"]
        fns = {n: queries.QUERIES[n] for n in names}
        data = self.args.data
        results: dict[str, list] = {n: [] for n in names}

        def one_pass(i: int) -> float:
            t0 = time.perf_counter()
            window = {"start": time.time()}
            self.windows.append(window)
            with self.span("pass", index=i):
                for n in names:
                    mod = fns[n].__module__.rsplit(".", 1)[-1]
                    self.attempted += 1
                    try:
                        with self.span("queries.construct", query=n, module=mod):
                            df = fns[n](self.spark, data)
                        with self.span("queries.execute", query=n, module=mod):
                            results[n].append(df.toPandas())
                    except Exception:
                        results[n].append(None)
                        self.failures[f"{n}#{i}"] = (
                            f"{n}: pass {i} raised\n{traceback.format_exc()}")
            window["end"] = time.time()
            return time.perf_counter() - t0

        times = self.run_passes(one_pass)
        self.check_batch(results)
        return {"times": times}

    def check_batch(self, results: dict[str, list]) -> None:
        from data_pipelines_course_spark import queries

        oracle_sql = queries.all_oracles()
        sqls = {n: oracle_sql[n] for n in results if n in oracle_sql}
        oracles = check.oracle_results(self.args.data, sqls)
        for n, per_pass in results.items():
            if n in oracles:
                for i, r in enumerate(per_pass):
                    if r is not None:
                        msg = check.oracle_mismatch(r, oracles[n], n)
                        if msg:
                            self.failures[f"{n}#{i}"] = f"pass {i}: {msg}"
            else:
                for i, msg in check.rows_only_failures(n, per_pass).items():
                    self.failures[f"{n}#{i}"] = msg

    def stream(self) -> dict:
        """One availableNow drain of every input file, one file per
        micro-batch, into fresh rollup and SCD2 tables. Here a pass is one
        micro-batch: the cold pass runs from `start()` to the end of the
        first batch, a warm pass is a later batch's trigger execution."""
        from datetime import datetime

        from pyspark.sql import functions as F

        from data_pipelines_course_spark.streaming import jobs

        def utc(df):
            # The datasets.load normalization: naive wall clock, UTC session.
            if dict(df.dtypes)["ts"] == "timestamp_ntz":
                return df.withColumn("ts", F.col("ts").cast("timestamp"))
            return df

        files = self.args.data
        n_files = len(os.listdir(files))
        out = self.stream_out = os.path.join(self.args.work, "drain")
        rollup_sink = jobs.rollup_maintenance_sink(out + "/rollup")
        scd2_sink = jobs.scd2_maintenance_sink(out + "/dim")

        def sink(batch_df, batch_id):
            with self.span("sinks.write", batch=batch_id):
                rollup_sink(batch_df, batch_id)
                scd2_sink(batch_df, batch_id)

        events = utc(self.spark.read.parquet(files))
        stream = utc(self.spark.readStream.schema(
            self.spark.read.parquet(files).schema)
            .option("maxFilesPerTrigger", 1).parquet(files))
        self.attempted = n_files
        started = time.time()
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", out + "/checkpoint")
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        except Exception:
            self.failures["drain"] = f"drain raised\n{traceback.format_exc()}"
        finally:
            self.progress = q.recentProgress
            q.stop()
        drain_s = time.time() - started
        for p in self.progress:
            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            self.windows.append({"start": t.timestamp(), "end": t.timestamp()
                                 + p["durationMs"]["triggerExecution"] / 1000})
        if len(self.windows) != n_files:
            self.failures["batches"] = (f"{len(self.windows)} micro-batches "
                                        f"for {n_files} input files")
        else:
            self.windows[0]["start"] = started
            bad = check.stream_mismatch_rows(self.spark, events, out + "/rollup",
                                             out + "/dim")
            if bad:
                self.failures["tables"] = (
                    f"{bad} maintained rows differ from the batch recompute")
        times = [w["end"] - w["start"] for w in self.windows] or [drain_s]
        return {"times": times, "drain_rows_per_s": self.args.input_rows / drain_s}

    # -- per-layer metrics (traced run) ----------------------------------
    def per_layer(self, passes: dict, log_path: list[str] | None) -> tuple[dict, dict]:
        """Per-layer metrics: set-up spans, the cold pass's dataset loads,
        stage() calls and memo misses, and the median over warm passes of
        every other span total, count and `spark.*` event-log metric."""
        tr = self.tracer
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        cold, warm = self.windows[0], self.windows[1:]
        setup = tr.select("setup")[0]

        def per_warm(fn):
            return median([fn(w) for w in warm])

        m = {"session.get_spark_s": tr.total("session.get_spark", setup),
             "queries.load_registry_s": tr.total("queries.load_registry", setup),
             "queries.construct_s": per_warm(
                 lambda w: tr.total("queries.construct", w)),
             "datasets.load_calls": tr.count("datasets.load", cold),
             "datasets.load_s": tr.total("datasets.load", cold),
             "staging.stage_calls": tr.count("staging.stage", cold),
             "memo.misses": tr.count("memo.evict_stale", cold),
             "memo.warm_misses": per_warm(
                 lambda w: tr.count("memo.evict_stale", w)),
             "sinks.write_s": per_warm(lambda w: tr.total("sinks.write", w)),
             "trace.warm_pass_s": median(passes["times"][1:])}
        for mod in self.modules():
            for kind, span in (("construct", "queries.construct"),
                               ("exec", "queries.execute")):
                m[f"operators.{mod}.{kind}_s"] = per_warm(
                    lambda w: sum(s["end"] - s["start"]
                                  for s in tr.select(span, w)
                                  if s["module"] == mod))
        m.update(self.stream_layers())
        detail = {}
        if log_path:
            from eventlog import METRICS, EventLog
            log = EventLog.load(log_path)
            per_pass = [log.window(w["start"], w["end"], cores) for w in warm]
            for k in METRICS:
                m[f"spark.{k}"] = median([p[k] for p in per_pass])
            detail["spark_by_query"] = {}
            for s in tr.select("queries.construct") + tr.select("queries.execute"):
                key = f'{s["module"]}/{s["query"]}/{s["name"].rsplit(".", 1)[1]}'
                w = log.window(s["start"], s["end"], cores)
                detail["spark_by_query"].setdefault(key, []).append(w)
        return m, detail

    def modules(self) -> list[str]:
        """The operator modules of every workload's queries; each gets an
        `operators.<module>.*` metric on every workload."""
        from data_pipelines_course_spark import queries

        queries.load_registry()
        return sorted({queries.QUERIES[n].__module__.rsplit(".", 1)[-1]
                       for w in self.workloads.values() for n in w["queries"]})

    def stream_layers(self) -> dict:
        """streaming.* step times per warm micro-batch (from the query's
        recentProgress) and what the sinks left on disk after the drain."""
        progress = self.progress
        m = {"streaming.batches": len(progress)}
        for step in STREAM_STEPS:
            m[f"streaming.{step}_s"] = median(
                [p["durationMs"].get(step, 0) / 1000 for p in progress[1:]])
        files = nbytes = 0
        if progress:
            for sub in ("rollup", "rollup_events", "dim", "dim_events"):
                for root, _, names in os.walk(os.path.join(self.stream_out, sub)):
                    for name in names:
                        files += 1
                        nbytes += os.path.getsize(os.path.join(root, name))
        m["sinks.files_written"] = files
        m["sinks.bytes_written"] = nbytes
        m["sinks.stored_bytes_per_input_byte"] = nbytes / self.args.input_bytes
        return m


def main() -> None:
    ap = argparse.ArgumentParser()
    for flag, typ in (("--workload", str), ("--seconds", float),
                      ("--trace", int), ("--data", str), ("--work", str),
                      ("--result", str), ("--spawned-at", float),
                      ("--run-id", str), ("--input-rows", int),
                      ("--input-bytes", int), ("--event-log", str),
                      ("--spans", str)):
        ap.add_argument(flag, type=typ)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(__file__), "spec.json")) as fh:
        workloads = json.load(fh)["workloads"]

    client = Client(args, workloads)
    setup_s = client.setup()
    passes = client.stream() if args.workload == "stream_ingest" else client.batch()
    client.spark.stop()
    times = passes["times"]
    result = {
        "setup_s": setup_s,
        "cold_pass_s": times[0],
        "warm_pass_s": median(times[1:]),
        "attempted": client.attempted,
        "failures": list(client.failures.values()),
        "info": {"pass_times_s": times, "warm_passes": len(times) - 1,
                 "warm_tail": tail(times[1:])},
    }
    if "drain_rows_per_s" in passes:
        result["info"]["drain_rows_per_s"] = passes["drain_rows_per_s"]
    if client.tracer:
        log = None
        if args.event_log:
            from eventlog import find_log
            log = find_log(args.event_log)
        result["per_layer"], detail = client.per_layer(passes, log)
        client.tracer.dump(args.spans)
        result["info"]["spans"] = args.spans
        result["info"]["spark_by_query"] = detail.get("spark_by_query", {})
    with open(args.result, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
