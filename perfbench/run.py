"""The benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. It generates the
workload's inputs from the seed (perfbench/gen.py) under
`.perfbench/work/` in the checkout, starts the client
(perfbench/client.py) in a process session of its own with
`SPARK_GRAFT_CPUS` set to the number of usable cores, samples the peak
resident memory of that session (driver, JVM and Python workers) from
/proc (reported with the details, and as `process.peak_rss_mb` when
traced), waits until every process of the session has ended, deletes the
inputs and prints two lines on stdout: a JSON object with the inputs'
rows and bytes per table and the run's details, then the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's `end_to_end` list,
with `--trace 1` its `per_layer` list (spans around the engine's layers,
written to `.perfbench/traces/`, and Spark's event log). Exits non-zero
without a result when the engine or a metric is missing or the client
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "data_pipelines_course_spark"
CLIENT_TIMEOUT_S = 140
PAGE = os.sysconf("SC_PAGE_SIZE")


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is `sid`: the client runs in a
    session of its own, so these are its Python driver, the JVM and the
    Python workers."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def session_rss(sid: int) -> int:
    """Resident bytes of the session's processes."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class PeakRss(threading.Thread):
    """Samples the resident memory of one process session until stopped."""

    def __init__(self, sid: int, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, session_rss(self.sid))
            self._done.wait(self.period)

    def stop(self) -> None:
        self._done.set()
        self.join()


def end_session(sid: int, grace_s: float) -> None:
    """Wait for every process of the session to exit; kill what remains."""
    deadline = time.monotonic() + grace_s
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_pids(sid):
        time.sleep(0.05)


def make_inputs(workload: str, tier: dict, seed: int, data: str) -> dict:
    if workload == "stream_ingest":
        return {"events_stream": gen.stream_files(
            data, tier["events"], tier["files"], tier["days"], seed)}
    return gen.write_tables(data, tier["scale"], seed)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)["workloads"]
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(spec))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"run.py: no {ENGINE}/ package in {root}; run it from the "
              "root of a checkout of the engine", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = bench["per_layer" if args.trace else "end_to_end"]

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench", "work", run_id)
    traces = os.path.join(root, ".perfbench", "traces")
    data = os.path.join(work, "data")
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    for d in (data, local, tmp) + ((traces,) if args.trace else ()):
        os.makedirs(d, exist_ok=True)
    try:
        inputs = make_inputs(args.workload, spec[args.workload]["tier"],
                             args.seed, data)
        if args.workload == "stream_ingest":
            rows, nbytes = (inputs["events_stream"]["rows"],
                            inputs["events_stream"]["bytes"])
        else:
            rows = sum(t["rows"] for t in inputs.values())
            nbytes = sum(t["bytes"] for t in inputs.values())

        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in [env.get("PYTHONPATH")] if p]),
            "SPARK_SUBMIT_OPTS": " ".join(
                [env.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}"]
            ).strip(),
        })
        result_path = os.path.join(work, "result.json")
        cmd = [sys.executable, os.path.join(HERE, "client.py"),
               "--workload", args.workload, "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--data", data, "--work", work,
               "--result", result_path, "--run-id", run_id,
               "--input-rows", str(rows), "--input-bytes", str(nbytes)]
        if args.trace:
            log_dir = os.path.join(local, "eventlog")
            os.makedirs(log_dir)
            env["PYSPARK_SUBMIT_ARGS"] = (
                "--conf spark.eventLog.enabled=true "
                f"--conf spark.eventLog.dir=file://{log_dir} "
                "--conf spark.eventLog.compress=false pyspark-shell")
            cmd += ["--event-log", log_dir,
                    "--spans", os.path.join(traces, run_id + "-spans.json")]
        steal0, total0 = cpu_steal_jiffies()
        cmd += ["--spawned-at", repr(time.time())]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                                start_new_session=True)
        sampler = PeakRss(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=CLIENT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run.py: client exceeded {CLIENT_TIMEOUT_S}s",
                  file=sys.stderr)
        finally:
            sampler.stop()
            end_session(proc.pid, grace_s=10.0 if proc.returncode is not None
                        else 0.0)
            proc.wait()
            steal1, total1 = cpu_steal_jiffies()
        if proc.returncode != 0:
            print(f"run.py: client exited with {proc.returncode}",
                  file=sys.stderr)
            return 1
        with open(result_path) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    peak_mb = sampler.peak / (1024 * 1024)
    values = ({**result["per_layer"], "process.peak_rss_mb": peak_mb}
              if args.trace else result)
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        print(f"run.py: metrics not produced: {missing}", file=sys.stderr)
        return 1
    failed = len(result["failures"])
    for msg in result["failures"]:
        print(f"run.py: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "inputs": inputs,
                      "peak_rss_mb": peak_mb,
                      # Share of the machine's CPU time the hypervisor took
                      # during the run: wall times rise with it.
                      "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
                      "details": result["info"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
