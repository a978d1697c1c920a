"""The measured process: session set-up and warm-up, the timed passes and, with
``--trace 1``, the traced run. Started by ``run.py`` once the inputs
exist; writes its result to ``<rundir>/result.json``.

Usage: python3 perfbench/child.py <json-args>
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import proc  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# Typical length of one pass over each workload's ops after the warm-up, on
# a 4-core box. A run makes round(--seconds / this) passes, at least one: a
# fixed count, so every run's medians are taken over the same number of
# samples.
PASS_SECONDS = {"xlsx_ingest": 21.0, "curate_query": 12.0}
# Ops that build the corpus rather than read it: left out of rows_per_s.
BUILD_OPS = ("sink_write", "retrofit")

RUNTIME_CONFS = (
    "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled", "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.python.filterPushdown.enabled",
)


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the driver JVM
    shares the box with its Python workers."""
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // (4 << 20)))}g"


class Ctx:
    def __init__(self, args: dict) -> None:
        self.args = args
        self.workload = args["workload"]
        self.base = args["base"]
        self.plan = args["plan"]
        self.rundir = args["rundir"]
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.tracer: tracing.Tracer | None = None
        self.con = None
        self.xlsx_inputs: list[str] = []
        self.corpus_files: list = []
        self.pruned = None
        self.phases: list = []
        self.sid = os.getsid(0)
        self.cpu_s = 0.0  # CPU seconds of the process session inside ops

    @contextlib.contextmanager
    def span(self, name: str):
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(name):
                yield

    def note_phases(self, df) -> None:
        if self.tracer is not None:
            self.phases.append((self.tracer.op, df))


# -- set-up ----------------------------------------------------------------------


def build_session(ctx: Ctx, event_log: str | None):
    from pyspark.sql import SparkSession

    import sheetreader_duckdb_spark as pkg
    from sheetreader_duckdb_spark.session import configure_session, static_builder_confs

    rd = ctx.rundir
    confs = {
        "spark.master": f"local[{ctx.cpus}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": driver_memory(),
        "spark.sql.shuffle.partitions": str(ctx.cpus),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{rd}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={rd}/tmp -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs["spark.eventLog.dir"] = f"file://{event_log}"
        confs["spark.eventLog.compress"] = "false"
    confs.update(static_builder_confs())
    spans = {}
    t0 = time.time()
    builder = SparkSession.builder
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    configure_session(spark)
    spans["session.build_s"] = time.time() - t0
    t0 = time.time()
    pkg.register(spark)
    spans["session.register_s"] = time.time() - t0
    for k, v in confs.items():  # a conf that did not take is an error
        got = spark.sparkContext.getConf().get(k) or ""
        # Spark qualifies paths and prepends its own JVM options.
        if got != v and got != f"file:{v}" and not got.endswith(f" {v}"):
            raise RuntimeError(f"conf {k}={v!r} did not take (session has {got!r})")
    effective = dict(confs)
    effective.update({k: spark.conf.get(k) for k in RUNTIME_CONFS})
    return spark, spans, effective


def setup(ctx: Ctx, trace: bool) -> dict:
    """The program's set-up: the session, then one untimed warm-up
    execution of the workload's ops (``workloads.warmup_ops``), checked
    like the timed ones. ``setup_s`` is this process's start (which
    ``run.py`` stamps just before spawning it) to the session being ready,
    plus the warm-up; the benchmark's own oracle work between the two
    (DuckDB expected values) is left out."""
    from tests.oracle import duckdb_connection

    ev = os.path.join(ctx.rundir, "eventlog") if trace else None
    ctx.spark, layer, confs = build_session(ctx, ev)
    session_s = time.time() - ctx.args["spawn_time"]
    ctx.con = workloads.OracleCache(duckdb_connection(ctx.base), ctx.base)
    ops = workloads.BUILD[ctx.workload](ctx)
    warm = stats.OpLog()
    warmup_s = run_pass(ctx, workloads.warmup_ops(ctx.workload, ops), warm)
    ctx.cpu_s = 0.0
    return {"setup_s": session_s + warmup_s, "session_s": session_s, "warmup_s": warmup_s,
            "warmup_op_s": {n: v[0] for n, v in warm.latencies.items()},
            "ops": ops, "warmup": warm, "layer": layer, "confs": confs}


# -- passes ----------------------------------------------------------------------


def run_pass(ctx: Ctx, ops, log: stats.OpLog, windows: list | None = None) -> float:
    from sheetreader_duckdb_spark.session import release_deferred

    total = 0.0
    for i, (name, fn) in enumerate(ops):
        op_id = f"{i:03d}:{name}"
        if ctx.tracer is not None:
            ctx.tracer.op = op_id
        try:
            c0 = proc.cpu_seconds(ctx.sid)
            with ctx.span("op"):
                w0 = time.time()
                t0 = time.perf_counter()
                rows, check = fn(ctx)
                dt = time.perf_counter() - t0
                w1 = time.time()
            ctx.cpu_s += proc.cpu_seconds(ctx.sid) - c0
        except Exception as e:  # an op that raises is a failed op
            traceback.print_exc()
            log.record_error(name, e)
            continue
        finally:
            release_deferred()
        if windows is not None:
            windows.append((w0, w1, op_id))
        total += dt
        problems = check()
        if problems:
            print(f"WRONG RESULT {name}: {problems[:3]}", file=sys.stderr)
        log.record(name, dt, rows, problems)
    if ctx.tracer is not None:
        ctx.tracer.op = None
    return total


def summarize(ctx: Ctx, log: stats.OpLog) -> dict:
    med = {n: statistics.median(v) for n, v in log.latencies.items()}
    rows = {n: statistics.median(v) for n, v in log.rows.items()}
    reads = [n for n in med if n not in BUILD_OPS]
    out = {
        "wall_s": sum(med.values()),
        "anchor_s": med.get(workloads.ANCHOR[ctx.workload], float("nan")),
        "rows_per_s": (sum(rows[n] for n in reads) / sum(med[n] for n in reads)
                       if reads else float("nan")),
    }
    details = {"op_median_s": med, "op_latencies_s": log.latencies}
    if ctx.workload == "xlsx_ingest":
        fr = [x for n, v in log.latencies.items() if n.startswith("file_read.") for x in v]
        t = stats.tail(fr)
        details.update({k: med.get(op) for k, op in (
            ("load_s", "load"), ("foreign_load_s", "foreign_load"),
            ("pruned_load_s", "pruned_load"), ("orders_load_s", "orders_load"),
            ("dir_read_s", "dir_read"))})
        details.update({
            "scan_rows_per_s": out["rows_per_s"],
            "file_read_p50_s": statistics.median(fr) if fr else None,
            "file_read_tail": {"value_s": t[0], "percentile": t[1], "samples": t[2]}
            if t else {"value_s": None, "samples": len(fr),
                       "why": "no percentile has ten samples beyond it"},
            "sink_write_s": (med.get("sink_write") or 0) + (med.get("retrofit") or 0),
        })
    else:
        details["curate_s"] = med.get("n01_cur_kept")
        details["query_s"] = out["wall_s"]
    details["failed_ops_ratio"] = log.failed_ratio()
    return {"metrics": out, "details": details}


def n_passes(ctx: Ctx) -> int:
    return max(1, round(ctx.args["seconds"] / PASS_SECONDS[ctx.workload]))


def timed_run(ctx: Ctx) -> dict:
    import duckdb

    su = setup(ctx, trace=False)
    log = stats.OpLog()
    log.count_outcomes(su["warmup"])
    t0, steal0 = time.perf_counter(), proc.steal_seconds()
    for _ in range(n_passes(ctx)):
        run_pass(ctx, su["ops"], log)
    measured = time.perf_counter() - t0
    ctx.spark.stop()
    s = summarize(ctx, log)
    s["metrics"]["setup_s"] = su["setup_s"]
    s["details"].update({"session_s": su["session_s"], "warmup_s": su["warmup_s"],
                         "warmup_op_s": su["warmup_op_s"],
                         "measured_s": measured, "cpu_s": ctx.cpu_s,
                         "steal_s": proc.steal_seconds() - steal0,
                         "confs": su["confs"], "duckdb": duckdb.__version__})
    return {"log": log, **s}


# -- traced run --------------------------------------------------------------------


def layer_probes(ctx: Ctx) -> dict:
    """Time the benchmark's own calls into the parser, inference and
    split-index modules on this workload's workbooks."""
    from sheetreader_duckdb_spark.sources.xlsx import parser as P
    from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
    from sheetreader_duckdb_spark.sources.xlsx.inference import infer_schema

    m = dict.fromkeys(("parser.open_s", "inference.probe_s", "parser.count_rows_s",
                       "parser.sst_s", "parser.sst_entries", "splitindex.intervals",
                       "splitindex.intervals_skipped"), 0.0)
    files = list(ctx.xlsx_inputs) + [f for f in ctx.corpus_files if f]
    for path in files:
        t0 = time.perf_counter()
        wb = P.XlsxWorkbook(path)
        m["parser.open_s"] += time.perf_counter() - t0
        with wb:
            sheet = wb.resolve_sheet(None, None)
            t0 = time.perf_counter()
            infer_schema(wb, sheet)
            m["inference.probe_s"] += time.perf_counter() - t0
            t0 = time.perf_counter()
            wb.count_rows(sheet)
            m["parser.count_rows_s"] += time.perf_counter() - t0
            t0 = time.perf_counter()
            m["parser.sst_entries"] += len(wb.shared_strings)
            m["parser.sst_s"] += time.perf_counter() - t0
    decoded = returned = None
    if ctx.pruned:
        path, letter, lo, hi = ctx.pruned
        with zipfile.ZipFile(path) as zf, P.XlsxWorkbook(path) as wb:
            entry = wb.resolve_sheet(None, None).path
            pts = SI.decode_split_index(zf, entry)
            st = SI.decode_interval_stats(zf, entry, pts)[letter]
        m["splitindex.intervals"] = len(pts)
        prev, decoded = 0, 0
        for i, ((_, rows_cum), bound) in enumerate(zip(pts, st)):
            skip = i > 0 and bound is not None and (bound[1] < lo or bound[0] > hi)
            m["splitindex.intervals_skipped"] += skip
            decoded += 0 if skip else rows_cum - prev
            prev = rows_cum
        returned = hi - lo + 1
    m["datasource.rows_decoded_per_returned"] = decoded / returned if returned else 0.0
    return m


@contextlib.contextmanager
def instrumented(ctx: Ctx, tracer: tracing.Tracer):
    """Spans, the traced data source, py4j and pipeline-stage counters on;
    everything restored on exit."""
    import sheetreader_duckdb_spark as pkg
    import traced_source
    from sheetreader_duckdb_spark.sources.xlsx import datasource as DS

    original = DS.SheetReaderDataSource
    DS.SheetReaderDataSource = traced_source.TracedSource
    pkg.register(ctx.spark)
    marks = tracing.StageMarks()
    py4j = tracing.Py4jCounter(ctx.spark)
    ctx.tracer = tracer
    marks.active = py4j.active = True
    try:
        yield marks, py4j
    finally:
        marks.active = py4j.active = False
        ctx.tracer = None
        py4j.close()
        marks.close()
        DS.SheetReaderDataSource = original
        pkg.register(ctx.spark)


def traced_run(ctx: Ctx) -> dict:
    """The same set-up and warm-up as the timed run, then one traced pass,
    which gives the per-layer metrics. The anchor op then runs untraced,
    traced and untraced again; the traced time minus the mean untraced time
    is the tracing overhead."""
    from pyspark import cloudpickle

    import traced_source

    su = setup(ctx, trace=True)
    ops = su["ops"]
    spark = ctx.spark
    trace_dir = os.path.join(ctx.rundir, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    cloudpickle.register_pickle_by_value(traced_source)
    traced_source.TracedSource.trace_dir = trace_dir

    tr = tracing.Tracer()
    windows: list = []
    log = stats.OpLog()
    log.count_outcomes(su["warmup"])
    with instrumented(ctx, tr) as (marks, py4j):
        cg0 = tracing.codegen_counters(spark)
        run_pass(ctx, ops, log, windows)
        cg1 = tracing.codegen_counters(spark)
    phases, ctx.phases = ctx.phases, []
    for op, df in phases:
        for name, s, e in tracing.catalyst_phases(df):
            tr.add(f"catalyst.{name}", s, e)
    del phases
    anchor = [op for op in ops if op[0] == workloads.ANCHOR[ctx.workload]][:1]
    # Untraced runs on both sides of the traced one: an op still gets
    # faster from one execution to the next, which one untraced run before
    # the traced one would count as negative overhead.
    before = run_pass(ctx, anchor, stats.OpLog())
    with instrumented(ctx, tracing.Tracer()):
        traced = run_pass(ctx, anchor, stats.OpLog())
    plain = (before + run_pass(ctx, anchor, stats.OpLog())) / 2
    ctx.phases = []
    probes = layer_probes(ctx)
    spark.stop()

    ev = tracing.parse_event_log(os.path.join(ctx.rundir, "eventlog"))
    op_windows = [(s, e) for s, e, _ in windows]
    for s, e, n in tracing.busy_intervals(ev["jobs"], op_windows):
        tr.add("spark.jobs", s, e, jobs=n)
    tracing.nest_external(tr.spans)
    accounting = tracing.op_accounting(tr.spans)
    wrec = [r for r in tracing.read_worker_records(trace_dir)
            if any(s <= r["start"] <= e for s, e in op_windows)]

    def total(name):
        return sum(s["end"] - s["start"] for s in tr.spans if s["name"] == name)

    m = dict(su["layer"])
    m.update(probes)
    m.update(_worker_metrics(ctx, wrec, op_windows))
    m.update(tracing.spark_metrics(ev, op_windows))
    m.update(_stage_metrics(marks.marks, tr.spans, windows, ev))
    m.update({
        "indexer.retrofit_s": total("indexer.retrofit"),
        "plans.construct_s": total("construct"),
        "driver.py4j_calls": py4j.calls,
        "catalyst.analysis_s": total("catalyst.analysis"),
        "catalyst.optimization_s": total("catalyst.optimization"),
        "catalyst.planning_s": total("catalyst.planning"),
        "codegen.compiles": cg1[0] - cg0[0],
        "codegen.compile_s": cg1[1] - cg0[1],
        "trace.overhead_s": traced - plain,
        "trace.max_unaccounted_share": max((abs(1 - a["accounted"]) for a in accounting),
                                           default=0.0),
    })
    tr.dump(os.path.join(ctx.rundir, "spans.jsonl"))
    details = {"accounting": accounting, "setup_s": su["setup_s"],
               "untraced_anchor_s": plain, "traced_anchor_s": traced,
               "confs": su["confs"]}
    return {"log": log, "metrics": m, "details": details}


def _member_bytes(path: str) -> int:
    """Uncompressed bytes of a workbook's worksheets and shared strings."""
    with zipfile.ZipFile(path) as zf:
        return sum(i.file_size for i in zf.infolist()
                   if i.filename.startswith("xl/worksheets/")
                   or i.filename == "xl/sharedStrings.xml")


def _worker_metrics(ctx: Ctx, wrec: list[dict], op_windows) -> dict:
    """Data-source, parser and writer metrics from the traced data source's
    records, and the sizes of what the writer and the indexer produced."""
    reads = [r for r in wrec if r["name"] == "datasource.read"]
    writes = [r for r in wrec if r["name"] == "writer.write"]

    def busy(name):
        return sum(r["end"] - r["start"] for r in wrec if r["name"] == name)

    inflated = sum(r["inflated"] for r in reads)
    # Each file's members count once per op, however many shards read it.
    members = sum(_member_bytes(path) for s, e in op_windows
                  for path in {r["path"] for r in reads if s <= r["start"] <= e})
    rows_written = sum(r["rows"] for r in writes)
    written = [f for f in ctx.corpus_files if f and os.path.exists(f)]
    index_bytes = 0
    for i in ctx.plan["corpus_foreign"] if ctx.corpus_files else []:
        with zipfile.ZipFile(ctx.corpus_files[i]) as zf:
            index_bytes += len(zf.comment)
    return {
        "datasource.schema_s": busy("datasource.schema"),
        "datasource.partitions_s": busy("datasource.partitions"),
        "datasource.shards": sum(r["shards"] for r in wrec
                                 if r["name"] == "datasource.partitions"),
        "datasource.read_busy_s": busy("datasource.read"),
        "datasource.read_max_shard_s": max((r["end"] - r["start"] for r in reads), default=0.0),
        "datasource.rows_out": sum(r["rows"] for r in reads),
        "datasource.batches": sum(r["batches"] for r in reads),
        "datasource.arrow_bytes_out": sum(r["bytes"] for r in reads),
        "parser.inflate_bytes": inflated,
        "parser.inflate_ratio": inflated / members if members else 0.0,
        "writer.write_s": busy("writer.write"),
        "writer.bytes_per_row": (sum(os.path.getsize(f) for f in written) / rows_written
                                 if rows_written else 0.0),
        "indexer.index_bytes": index_bytes,
    }


def _stage_metrics(marks, spans, windows, ev) -> dict:
    """Per curate stage: wall time and the jobs that started in it."""
    out = {f"pipeline.stage_s.{s}": 0.0 for s in tracing.STAGES}
    out.update({f"pipeline.stage_jobs.{s}": 0 for s in tracing.STAGES})
    constructs = {s["op"]: s for s in spans if s["name"] == "construct"}
    for w0, w1, op_id in windows:
        op_marks = [(st, t) for st, t in marks if w0 <= t <= w1]
        if not op_marks:
            continue
        segs = tracing.stage_segments(op_marks, constructs[op_id]["end"], w1)
        for st, s, e in segs:
            out[f"pipeline.stage_s.{st}"] += e - s
            out[f"pipeline.stage_jobs.{st}"] += sum(1 for j in ev["jobs"] if s <= j["start"] < e)
    return out


def main() -> None:
    args = json.loads(sys.argv[1])
    ctx = Ctx(args)
    res = traced_run(ctx) if args["trace"] else timed_run(ctx)
    log = res["log"]
    out = {"attempted": log.attempted, "failed": log.failed, "failures": log.failures,
           "metrics": res["metrics"], "details": res["details"]}
    with open(os.path.join(ctx.rundir, "result.json"), "w") as f:
        json.dump(out, f, default=str)


if __name__ == "__main__":
    main()
