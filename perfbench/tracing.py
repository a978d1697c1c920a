"""Spans and counters of the traced run.

Spans are kept in memory as ``(name, start, end, parent, op)`` records and
written out when the run ends. Driver-side spans are recorded around the
benchmark's own calls into each layer; executor-side spans come from the
traced data source (``traced_source.py``) as JSON lines, and Spark jobs,
stages and tasks come from the Spark event log, read after the session
stops. All timestamps are wall-clock seconds since the epoch, so records
from the three sources line up.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from stats import self_time, union_length


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """A span measured elsewhere (JVM phase, Spark job, worker call);
        its parent is resolved later by time containment."""
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": None, "op": self.op, "external": True}
        rec.update(attrs)
        self.spans.append(rec)
        return rec

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def nest_external(spans: list[dict]) -> None:
    """Make each external span a child of the innermost driver span that
    contains its midpoint, and give it that span's op. External spans stay
    leaves."""
    driver = [s for s in spans if not s.get("external") and s["end"] is not None]
    for s in spans:
        if not s.get("external"):
            continue
        mid = (s["start"] + s["end"]) / 2
        best = None
        for d in driver:
            if d["start"] <= mid <= d["end"] and (
                best is None or d["end"] - d["start"] < best["end"] - best["start"]
            ):
                best = d
        if best is not None:
            s["parent"] = best["id"]
            s["op"] = best["op"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals inside it."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: self_time((s["start"], s["end"]), kids.get(s["id"], [])) for s in spans}


def op_accounting(spans: list[dict]) -> list[dict]:
    """Per op span: the share of its wall time that its descendant spans'
    self times account for (1.0 = every instant attributed to a layer)."""
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out = []
    for root in (s for s in spans if s["name"] == "op"):
        desc = 0.0
        for s in spans:
            p = s["parent"]
            while p is not None and p != root["id"]:
                p = by_id[p]["parent"]
            if p == root["id"]:
                desc += st[s["id"]]
        wall = root["end"] - root["start"]
        out.append({"op": root["op"], "wall_s": wall, "accounted": desc / wall if wall else 1.0})
    return out


# -- executor-side records -------------------------------------------------------


def read_worker_records(trace_dir: str) -> list[dict]:
    recs = []
    for path in sorted(glob.glob(os.path.join(trace_dir, "w-*.jsonl"))):
        with open(path) as f:
            recs.extend(json.loads(line) for line in f if line.strip())
    return recs


# -- Spark event log -------------------------------------------------------------


def _events(log_dir: str):
    """Events of the one application under ``log_dir``. Spark 4 writes a
    directory ``eventlog_v2_<app>`` of ``events_<n>_<app>`` parts."""
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    parts = sorted(glob.glob(os.path.join(apps[0], "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for part in parts:
        with open(part) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(log_dir: str) -> dict:
    """Jobs and tasks from the uncompressed event log, times in epoch
    seconds."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "callsite": props.get("callSite.short", ""),
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
            run = m.get("Executor Run Time", 0) / 1000.0
            other = (m.get("Executor Deserialize Time", 0)
                     + m.get("Result Serialization Time", 0)) / 1000.0
            fetch_start = info.get("Getting Result Time", 0) / 1000.0
            fetch = finish - fetch_start if fetch_start else 0.0
            tasks.append({
                "launch": launch,
                "run_s": run,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                # Spark UI's definition: task duration not spent running,
                # (de)serializing or fetching the result.
                "sched_delay_s": max(0.0, (finish - launch) - run - other - fetch),
                "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                "shuffle_r": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            })
    return {"jobs": [j for j in jobs.values() if j["end"] is not None], "tasks": tasks}


def busy_intervals(jobs: list[dict], windows: list[tuple[float, float]]):
    """Merge the jobs that start inside ``windows`` into disjoint busy
    intervals ``(start, end, n_jobs)``: AQE runs query stages as
    concurrent jobs, and the union is what the driver waited on."""
    out: list[list] = []
    for j in sorted((j for j in jobs if any(s <= j["start"] <= e for s, e in windows)),
                    key=lambda j: j["start"]):
        if out and j["start"] <= out[-1][1]:
            out[-1][1] = max(out[-1][1], j["end"])
            out[-1][2] += 1
        else:
            out.append([j["start"], j["end"], 1])
    return [tuple(x) for x in out]


def spark_metrics(ev: dict, windows: list[tuple[float, float]]) -> dict:
    """Executor-side per-layer metrics for the jobs and tasks inside the
    traced ops' time windows."""

    def inside(t: float) -> bool:
        return any(s <= t <= e for s, e in windows)

    jobs = [j for j in ev["jobs"] if inside(j["start"])]
    tasks = [t for t in ev["tasks"] if inside(t["launch"])]
    busy = 0.0
    for s, e in windows:
        busy += union_length(
            [(max(s, j["start"]), min(e, j["end"])) for j in jobs if j["end"] > s and j["start"] < e]
        )
    wall = sum(e - s for s, e in windows)
    return {
        "spark.jobs": len(jobs),
        "spark.job_busy_s": busy,
        "spark.job_gap_s": wall - busy,
        "spark.tasks": len(tasks),
        "spark.scheduler_delay_s": sum(t["sched_delay_s"] for t in tasks),
        "spark.executor_run_s": sum(t["run_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_r"] for t in tasks),
    }


# -- driver-side counters ----------------------------------------------------------


class Py4jCounter:
    """Counts py4j round trips while ``active`` is set."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self.active = False
        self._cls = type(spark.sparkContext._gateway._gateway_client)
        self._orig = self._cls.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            if counter.active:
                counter.calls += 1
            return counter._orig(client, *args, **kwargs)

        self._cls.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


def codegen_counters(spark) -> tuple[int, float]:
    """(compiles, compile seconds) so far in this JVM."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e9


def catalyst_phases(df) -> list[tuple[str, float, float]]:
    """(phase, start, end) of the analysis, optimization and planning
    phases of ``df``'s query execution, in epoch seconds."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = []
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            p = phases.apply(name)
            out.append((name, p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0))
    return out


# -- pipeline stage attribution ------------------------------------------------------

# Operator functions curate_corpus calls, by the stage they open. The first
# call of a stage marks its start; the stage lasts until the next stage's
# first call, and the final materialization of the curated frame is the
# "output" stage. Later calls are ignored: operators also call each other.
STAGE_OPERATORS = {
    "domain_cap": [("web", "per_domain_cap")],
    "quality": [("text", "quality_keep")],
    "exact_dedup": [("dedup", "exact_dedup")],
    "line_dedup": [("dedup", "remove_duplicate_lines")],
    "near_dedup": [("dedup", "word_shingles")],
    "semantic_dedup": [("similarity", "auto_ivf_cells"), ("similarity", "semantic_dedup_keep")],
    "dupspan": [("dedup", "remove_duplicate_ngrams")],
    "decontaminate": [("dedup", "contamination")],
    "pii": [("text", "scrub_pii")],
    "temperature_mix": [("sampling", "sqrt_temperature_sample")],
    "budget": [("sampling", "budget_select")],
}
STAGES = list(STAGE_OPERATORS) + ["output"]


class StageMarks:
    """Wraps the operator functions pipeline.py calls so each call leaves a
    ``(stage, time)`` mark while ``active`` is set."""

    def __init__(self) -> None:
        import importlib

        self.marks: list[tuple[str, float]] = []
        self.active = False
        self._undo = []
        for stage, ops in STAGE_OPERATORS.items():
            for mod_name, fn_name in ops:
                mod = importlib.import_module(f"sheetreader_duckdb_spark.operators.{mod_name}")
                fn = getattr(mod, fn_name, None)
                if fn is None:
                    continue
                setattr(mod, fn_name, self._wrap(stage, fn))
                self._undo.append((mod, fn_name, fn))

    def _wrap(self, stage, fn):
        marks = self

        def wrapped(*args, **kwargs):
            if marks.active:
                marks.marks.append((stage, time.time()))
            return fn(*args, **kwargs)

        return wrapped

    def close(self) -> None:
        for mod, name, fn in self._undo:
            setattr(mod, name, fn)


def stage_segments(marks: list[tuple[str, float]], construct_end: float,
                   op_end: float) -> list[tuple[str, float, float]]:
    """Contiguous stage segments from one curate call's marks."""
    first: dict[str, float] = {}
    for stage, t in marks:
        first.setdefault(stage, t)
    segs: list[tuple[str, float, float]] = []
    for stage, t in sorted(first.items(), key=lambda m: m[1]):
        if segs:
            segs[-1] = (segs[-1][0], segs[-1][1], t)
        segs.append((stage, t, construct_end))
    segs.append(("output", construct_end, op_end))
    return segs
