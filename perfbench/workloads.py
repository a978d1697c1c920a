"""The two workloads: their ops, their expected results and their anchor
op.

An op is ``run(ctx) -> (rows, check)``: ``run`` does the timed work (plan
construction, then materialization) and returns the number of rows the
op produced and a function that checks the result after the clock has
stopped. ``check()`` returns a list of mismatch descriptions; it may also
prepare the next op's input, untimed.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import re
import zipfile

import gen
from stats import checksum_sql, compare_checksums, spark_hash_long

LINEITEM_COLS = [("l_returnflag", "VARCHAR"), ("l_quantity", "DOUBLE"),
                 ("l_extendedprice", "DOUBLE")]
ORDERS_COLS = [("o_orderkey", "DOUBLE"), ("o_clerkref", "VARCHAR"),
               ("o_orderstatus", "VARCHAR"), ("o_orderpriority", "VARCHAR"),
               ("o_totalprice", "DOUBLE"), ("o_orderdate", "DATE")]
PRUNED_COLS = [("o_orderkey", "DOUBLE"), ("o_orderstatus", "VARCHAR"),
               ("o_totalprice", "DOUBLE")]
CORPUS_COLS = [("c_key", "DOUBLE"), ("c_flag", "VARCHAR"), ("c_qty", "DOUBLE"),
               ("c_price", "DOUBLE"), ("c_note", "VARCHAR"), ("c_date", "DATE")]

# Anchor op of each workload: its median latency is the `anchor_s` metric.
ANCHOR = {"xlsx_ingest": "load", "curate_query": "n01_cur_kept"}

# Kept-document count and id sum of the composed curate_corpus call
# (n01_cur_kept) over the generated documents, a fixed function of
# gen.DATA_SEED.
CURATE_PIN = (140, 35332)


def duck_checksums(con, table_sql: str, cols, where: str = "TRUE") -> list:
    sql = f"SELECT {', '.join(checksum_sql(cols, 'duckdb'))} FROM {table_sql} WHERE {where}"
    return list(con.execute(sql).fetchone())


def _agg_read(ctx, build, cols, expected):
    """Construct a read, materialize its checksums in one Spark job."""
    from pyspark.sql import functions as F

    with ctx.span("construct"):
        df = build()
        agg = df.agg(*[F.expr(e) for e in checksum_sql(cols, "spark")])
    with ctx.span("materialize"):
        row = agg.collect()[0]
    ctx.note_phases(agg)
    got = list(row)
    return got[0], lambda: compare_checksums(expected, got)


# -- xlsx_ingest -----------------------------------------------------------------


def _partition_keys(n: int) -> list[int]:
    """For each partition id p < n, a bigint key that Spark's hash
    partitioner sends to p: `repartition(n, key)` then writes exactly one
    workbook per planned file."""
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n:
        keys.setdefault(spark_hash_long(k) % n, k)
        k += 1
    return [keys[p] for p in range(n)]


def _scan_ops(ctx) -> list:
    """A few large sheets, each read whole: the paper's load-time metric."""
    from sheetreader_duckdb_spark import read_xlsx

    spark, base, con = ctx.spark, ctx.base, ctx.con
    li_src = f"read_parquet('{base}/scan_lineitem.parquet')"
    od_src = f"read_parquet('{base}/scan_orders.parquet')"
    li_exp = duck_checksums(con, li_src, LINEITEM_COLS)
    od_exp = duck_checksums(con, od_src, ORDERS_COLS)
    lo, hi = ctx.plan["pruned_where"]
    where = f"o_orderkey BETWEEN {lo} AND {hi}"
    pr_exp = duck_checksums(con, od_src, PRUNED_COLS, where)
    ctx.xlsx_inputs = [f"{base}/lineitem.xlsx", f"{base}/lineitem_foreign.xlsx",
                       f"{base}/orders.xlsx"]
    ctx.pruned = (f"{base}/orders.xlsx", "A", lo, hi)

    def whole(path, cols, expected):
        return lambda c: _agg_read(
            c, lambda: spark.read.format("sheetreader").load(path), cols, expected)

    return [
        ("load", whole(f"{base}/lineitem.xlsx", LINEITEM_COLS, li_exp)),
        ("foreign_load", whole(f"{base}/lineitem_foreign.xlsx", LINEITEM_COLS, li_exp)),
        ("orders_load", whole(f"{base}/orders.xlsx", ORDERS_COLS, od_exp)),
        ("pruned_load", lambda c: _agg_read(
            c, lambda: read_xlsx(spark, f"{base}/orders.xlsx",
                                 columns=[n for n, _ in PRUNED_COLS], where=where),
            PRUNED_COLS, pr_exp)),
    ]


def _corpus_ops(ctx) -> tuple[list, list]:
    """Many small workbooks: written through the sink, a seeded share
    foreignized and retrofitted, then read back one by one and as one
    directory. Returns (ops that build the corpus, ops that read it)."""
    from pyspark.sql import functions as F

    from sheetreader_duckdb_spark import index_xlsx
    from sheetreader_duckdb_spark.sources.xlsx.splitindex import SPLIT_INTERVAL

    spark, base, con, plan = ctx.spark, ctx.base, ctx.con, ctx.plan
    src = f"read_parquet('{base}/corpus_source.parquet')"
    bounds = [plan["corpus_start"]]
    for s in plan["corpus_sizes"]:
        bounds.append(bounds[-1] + s)
    n = len(plan["corpus_sizes"])
    file_exp = [
        duck_checksums(con, src, CORPUS_COLS, f"c_key >= {a} AND c_key < {b}")
        for a, b in zip(bounds, bounds[1:])
    ]
    all_exp = duck_checksums(con, src, CORPUS_COLS,
                             f"c_key >= {bounds[0]} AND c_key < {bounds[-1]}")
    keys = _partition_keys(n)
    out_dir = os.path.join(ctx.rundir, "corpus")
    files = [None] * n

    def sink_write(c):
        with c.span("construct"):
            df = spark.read.parquet(f"{base}/corpus_source.parquet").filter(
                (F.col("c_key") >= bounds[0]) & (F.col("c_key") < bounds[-1]))
            fid = sum((F.col("c_key") >= b).cast("int") for b in bounds[1:-1])
            key = F.element_at(F.array(*[F.lit(k).cast("bigint") for k in keys]), fid + 1)
            df = df.withColumn("__k", key).repartition(n, "__k").drop("__k")
        with c.span("materialize"):
            df.write.format("sheetreader").mode("overwrite").save(out_dir)
        names = sorted(f for f in os.listdir(out_dir) if f.endswith(".xlsx"))
        for f in names:
            files[int(re.match(r"part-(\d+)-", f).group(1))] = os.path.join(out_dir, f)

        def check():
            if len(names) != n or None in files:
                return [f"sink wrote {len(names)} workbooks, expected {n}"]
            # Untimed: a foreign producer rewrites a seeded share of them.
            for i in plan["corpus_foreign"]:
                gen.foreignize(files[i], files[i] + ".f")
                os.replace(files[i] + ".f", files[i])
            return []

        return bounds[-1] - bounds[0], check

    def retrofit(c):
        results = []
        for i in plan["corpus_foreign"]:
            with c.span("indexer.retrofit"):
                results.append(index_xlsx(files[i]))
        # A sheet below one split interval has nothing to index; every
        # larger one must come back indexed.
        bad = [r for r in results if not r.get("indexed")
               and _sheet_bytes(r["path"]) >= SPLIT_INTERVAL]
        return len(results), lambda: [f"retrofit failed: {r}" for r in bad]

    def file_read(i):
        return lambda c: _agg_read(
            c, lambda: spark.read.format("sheetreader").load(files[i]), CORPUS_COLS,
            file_exp[i])

    ctx.corpus_files = files
    reads = [(f"file_read.{i:02d}", file_read(i)) for i in plan["corpus_single_reads"]]
    reads.append(("dir_read", lambda c: _agg_read(
        c, lambda: spark.read.format("sheetreader").load(out_dir), CORPUS_COLS, all_exp)))
    return [("sink_write", sink_write), ("retrofit", retrofit)], reads


def _sheet_bytes(path: str) -> int:
    with zipfile.ZipFile(path) as zf:
        return max(i.file_size for i in zf.infolist() if i.filename.startswith("xl/worksheets/"))


def _seeded_order(ctx, first: list, rest: list) -> list:
    """``first`` in place, then ``rest`` in a seeded order. The anchor op
    stays at a fixed position: what ran before an op changes its cost, and
    the anchor is the one op reported alone."""
    random.Random(ctx.plan["order_seed"]).shuffle(rest)
    return first + rest


# The anchor read runs this many times per pass (first, then at a seeded
# position), so anchor_s is a median rather than one sample.
LOAD_SAMPLES = 2


def xlsx_ingest(ctx) -> list:
    build, reads = _corpus_ops(ctx)
    load, *scans = _scan_ops(ctx)
    return _seeded_order(ctx, build + [load], reads + scans + [load] * (LOAD_SAMPLES - 1))


# -- curate_query ------------------------------------------------------------------


class OracleCache:
    """A DuckDB connection whose query results are cached on disk, keyed by
    the SQL text: the base data is fixed, and some oracle queries take
    longer than the op they check. Reads of the cache come back exactly as
    DuckDB returned them (pickled by this benchmark, nothing else)."""

    def __init__(self, con, base: str) -> None:
        self.con = con
        self.dir = os.path.join(base, "oracle")
        os.makedirs(self.dir, exist_ok=True)

    def execute(self, sql: str):
        return self.con.execute(sql)

    def sql(self, sql: str) -> "_Collected":
        path = os.path.join(self.dir, hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                cols, rows = pickle.load(f)
        else:
            rel = self.con.sql(sql)
            cols, rows = list(rel.columns), rel.fetchall()
            with open(path + ".tmp", "wb") as f:
                pickle.dump((cols, rows), f)
            os.replace(path + ".tmp", path)
        return _Collected(cols, rows)


class _Collected:
    """A collected result in the shapes the repository's oracle diff reads:
    a Spark frame (``columns``, ``collect()``) and a DuckDB relation
    (``columns``, ``fetchall()``)."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows

    fetchall = collect


def _oracle_op(build, sql, pin=None):
    """A query op checked by the repository's DuckDB oracle diff; ``pin``
    additionally fixes the (row count, id sum) of the result."""

    def run(c):
        from tests.oracle import diff

        with c.span("construct"):
            df = build(c.spark, c.base)
        with c.span("materialize"):
            rows = df.collect()
        c.note_phases(df)
        res = _Collected(df.columns, rows)

        def check():
            problems = diff(res, c.con, sql)
            if pin is not None:
                got = (len(rows), sum(r["id"] for r in rows))
                if got != pin:
                    problems.append(f"kept (count, id sum) {got} != pinned {pin}")
            return problems

        return len(rows), check

    return run


def curate_query(ctx) -> list:
    """Parquet only: driver plan build, Catalyst, codegen, job scheduling
    and pipeline.py, with no XLSX reader work."""
    from sheetreader_duckdb_spark.plans import all_queries
    from sheetreader_duckdb_spark.plans.northstar import n01_cur_kept_branch

    q = all_queries()
    n01_sql = f"SELECT * FROM ({q['n01_dedup_exact_pipeline'].oracle}) WHERE tag = 'cur_kept'"
    ops = [("n01_cur_kept", _oracle_op(n01_cur_kept_branch, n01_sql, pin=CURATE_PIN))]
    for name in ("n06b_embedding_neardup_srp", "h08c_tpch_q5", "h12_window_functions"):
        ops.append((name, _oracle_op(q[name].fn, q[name].oracle)))
    return _seeded_order(ctx, ops[:1], ops[1:])


BUILD = {"xlsx_ingest": xlsx_ingest, "curate_query": curate_query}

# Ops left out of the untimed warm-up (by name before any ".NN"): the
# whole-sheet scans of the large workbooks and the per-file reads. The
# directory and pruned reads of the warm-up take the same reader paths, and
# reading 1.3M more rows would not fit a run's time.
WARMUP_SKIP = {"xlsx_ingest": ("load", "foreign_load", "orders_load", "file_read"),
               "curate_query": ()}


def warmup_ops(workload: str, ops: list) -> list:
    """Each distinct op of the pass once, in pass order, minus WARMUP_SKIP."""
    out, seen = [], set()
    for name, fn in ops:
        if name not in seen and name.split(".")[0] not in WARMUP_SKIP[workload]:
            seen.add(name)
            out.append((name, fn))
    return out
