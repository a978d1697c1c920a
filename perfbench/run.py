"""Benchmark entry point: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload xlsx_ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated (and cached) under
``.perfbench/`` in the checkout before any clock starts; the measured work
runs in a child process (``child.py``) so that set-up time counts from a
process start. This process samples the child's process tree for peak
resident memory, stops every process the child started, and prints the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. The exit code is 0 only when every op
ran and every result matched its expected value.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import proc
from tracing import STAGES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("xlsx_ingest", "curate_query")
CHILD_TIMEOUT_S = 165

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "anchor_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.build_s": "s",
    "session.register_s": "s",
    "inference.probe_s": "s",
    "parser.open_s": "s",
    "datasource.schema_s": "s",
    "datasource.partitions_s": "s",
    "datasource.shards": "count",
    "datasource.read_busy_s": "s",
    "datasource.read_max_shard_s": "s",
    "datasource.rows_out": "count",
    "datasource.batches": "count",
    "datasource.arrow_bytes_out": "B",
    "datasource.rows_decoded_per_returned": "ratio",
    "parser.count_rows_s": "s",
    "parser.inflate_bytes": "B",
    "parser.inflate_ratio": "ratio",
    "parser.sst_s": "s",
    "parser.sst_entries": "count",
    "splitindex.intervals": "count",
    "splitindex.intervals_skipped": "count",
    "writer.write_s": "s",
    "writer.bytes_per_row": "B",
    "indexer.retrofit_s": "s",
    "indexer.index_bytes": "B",
    "plans.construct_s": "s",
    "driver.py4j_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "spark.jobs": "count",
    "spark.job_busy_s": "s",
    "spark.job_gap_s": "s",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    **{f"pipeline.stage_s.{s}": "s" for s in STAGES},
    **{f"pipeline.stage_jobs.{s}": "count" for s in STAGES},
    "trace.overhead_s": "s",
    "trace.max_unaccounted_share": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not 1 <= args.seconds <= 600:
        ap.error("--seconds must be in [1, 600]")
    return args


class TreeRss:
    """Peak summed resident memory of every process in one session (the
    child started with its own session: its JVM and Python workers)."""

    def __init__(self, sid: int, period: float = 0.05) -> None:
        self.sid = sid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, proc.rss_bytes(self.sid))
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def stop_session(sid: int, polite: bool = True, grace: float = 5.0) -> None:
    """Stop whatever the child left running, then wait for it: SIGTERM
    first (unless ``polite`` is false), SIGKILL for what outlives it."""
    sigs = (signal.SIGTERM, signal.SIGKILL) if polite else (signal.SIGKILL,)
    for sig in sigs:
        pids = proc.members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline and proc.members(sid):
            time.sleep(0.1)
    if proc.members(sid):
        raise RuntimeError(f"processes {proc.members(sid)} did not stop")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the child clean-up


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isfile(os.path.join(ROOT, "sheetreader_duckdb_spark", "__init__.py")):
        print("perfbench: the sheetreader_duckdb_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen

    ws = os.path.join(ROOT, ".perfbench")
    base = gen.ensure_base(ws)
    plan = gen.seed_plan(args.seed)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    rundir = os.path.join(ws, "runs", f"{tag}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(rundir, sub), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(rundir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(rundir, "local"),
        "PYSPARK_PYTHON": sys.executable,
    })
    child_args = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "base": base, "plan": plan, "rundir": rundir, "spawn_time": time.time(),
    }
    log_path = os.path.join(rundir, "child.log")
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), json.dumps(child_args)],
            cwd=rundir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        tree = TreeRss(child.pid)
        tree.start()
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            tree.stop()
            # After a clean exit the child has stopped Spark and written its
            # result; what is left is the driver JVM's ~2 s of shutdown hooks,
            # which only clean up the run directory removed below anyway.
            stop_session(child.pid, polite=rc != 0)
            child.wait()
    keep = os.path.join(ws, "last", tag)  # the run's log and records, for reading
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for fn in ("child.log", "result.json", "spans.jsonl"):
        if os.path.exists(os.path.join(rundir, fn)):
            shutil.copy(os.path.join(rundir, fn), keep)
    shutil.rmtree(rundir, ignore_errors=True)
    result_path = os.path.join(keep, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(keep, "child.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: child {'timed out' if rc is None else f'exited {rc}'}",
              file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    units = PER_LAYER if args.trace else END_TO_END
    values = dict(res["metrics"])
    if not args.trace:
        values["peak_rss_mb"] = tree.peak / 2**20
    metrics = {}
    for name, unit in units.items():
        v = values.get(name)
        if v is None or not math.isfinite(v):
            res["failures"].append(["metrics", f"{name} not measured"])
            continue
        metrics[name] = {"value": v, "unit": unit}
    correct = not res["failures"]

    details = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "failures": res["failures"], **res["details"]}
    details.pop("confs", None)  # kept in .perfbench/last/<tag>/result.json
    print(json.dumps(details, default=str))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
