"""Seeded input generation for the benchmark.

Two layers of inputs, both written under the checkout's ``.perfbench/cache``:

* the base data set, a fixed function of ``DATA_SEED``: the TPC-H-ish star
  schema plus the ``documents``/``embeddings`` training-data tables (same
  schemas as the repository's test data), and the two large XLSX workbooks
  of the ``xlsx_ingest`` workload. Every run shares it, so a new ``--seed``
  does not pay for a 600k-row workbook write.
* the per-seed plan: corpus slice and skewed file sizes, which corpus files
  are foreignized and which are read one by one, filter constants and op
  order. It is small and derived
  from ``--seed`` alone.

Expected results for every XLSX read are computed here by DuckDB over the
parquet that the workbook was written from, so a wrong read is caught in
the same command that times it.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import zipfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated data changes shape: old caches are then ignored.
CACHE_VERSION = "v1"

# Sizes of the relational tables read by the curate_query workload (the
# repository's sf0.01 test-data sizes; that workload is driver-bound, so
# larger tables would only lengthen each run).
REL_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
LINEITEM_PER_ORDER = 4  # ~60k lineitem rows

SCAN_LINEITEM_ROWS = 600_000  # bench.py's xlsx_load_lineitem size (sf0.1)
SCAN_ORDERS_ROWS = 150_000
CORPUS_ROWS = 30_000
CORPUS_FILES = 8
# One workbook above two split intervals (4 MiB of sheet each), so the
# retrofit has something to index; the rest share what is left.
CORPUS_LARGEST = 20_000
CORPUS_FILE_READS = 2  # files read one by one (each read pays ~1 s fixed cost)

WORDS = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join batch sort value hash filter big data dup spark line "
    "small fast group customer"
).split()

EPOCH = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - EPOCH).days


def _rng(table: str) -> np.random.Generator:
    """One generator per table, so changing one table leaves the others
    (and the pinned results computed from them) as they were."""
    return np.random.default_rng([DATA_SEED, zlib.crc32(table.encode())])


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Cents-quantized doubles: exact per-row integer checksums in both
    engines (the same quantization the repository's query corpus uses)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _relational(out: str) -> None:
    """The star schema plus training-data tables, schema-identical to the
    repository's test data (TESTDATA.md)."""
    n = REL_ROWS
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    rng = _rng("customer")
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, c),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, c)],
    }), f"{out}/customer.parquet")
    rng = _rng("supplier")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, s),
    }), f"{out}/supplier.parquet")
    rng = _rng("part")
    p = n["part"]
    adjs = ["large", "hot", "cold", "small", "shiny", "matte", "red", "blue"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring"]
    types = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
    _write(pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (p, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [types[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    }), f"{out}/part.parquet")
    rng = _rng("orders")
    o = n["orders"]
    odate = rng.integers(_days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1)) + 1, o)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(odate * 86_400_000_000, pa.timestamp("us")),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, o)],
    }), f"{out}/orders.parquet")
    rng = _rng("lineitem")
    lines = rng.integers(1, 2 * LINEITEM_PER_ORDER, o)
    big = rng.random(o) < 0.01  # large orders, so TPC-H Q18 has an answer
    lines[big] = rng.integers(12, 16, int(big.sum()))
    lok = np.repeat(np.arange(o), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    m = len(lok)
    ship = rng.integers(_days(dt.date(1995, 1, 2)), _days(dt.date(2001, 11, 4)) + 1, m)
    flags = [("A", "O"), ("N", "F"), ("R", "F"), ("R", "O"), ("N", "O"), ("A", "F")]
    fl = rng.integers(0, 6, m)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, m), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [flags[i][0] for i in fl],
        "l_linestatus": [flags[i][1] for i in fl],
        "l_shipdate": pa.array(ship * 86_400_000_000, pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")
    rng = _rng("events")
    e = n["events"]
    ets = ["signup", "click", "error", "view", "purchase"]
    ts0 = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e)) + ts0
    _write(pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": [ets[i] for i in rng.integers(0, 5, e)],
        "value": _cents(rng, 0.0, 560.0, e),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)],
    }), f"{out}/events.parquet")
    rng = _rng("documents")
    d = n["documents"]
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
        for k in rng.integers(10, 101, d)
    ]
    for i in rng.choice(d, d // 50, replace=False):  # planted exact duplicates
        texts[i] = texts[(i + 1) % d]
    langs = ["en", "en", "en", "zh", "de", "es", "fr"]
    _write(pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), d)],
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    rng = _rng("embeddings")
    v = n["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, v)
    emb = centers[label] + rng.normal(0, 0.6, (v, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), f"{out}/embeddings.parquet")


def _scan_tables(out: str) -> None:
    """Sources of the xlsx_ingest workbooks and corpus slices."""
    rng = _rng("scan_lineitem")
    m = SCAN_LINEITEM_ROWS
    flags = np.array(["A", "N", "R"])
    _write(pa.table({
        "l_returnflag": flags[rng.integers(0, 3, m)],
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, m),
    }), f"{out}/scan_lineitem.parquet")
    rng = _rng("scan_orders")
    o = SCAN_ORDERS_ROWS
    status = np.array(["O", "P", "F"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = rng.integers(_days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1)) + 1, o)
    tag = rng.integers(0, 36**6, o)
    _write(pa.table({
        # Ascending: the clustered column the pruned read filters on.
        "o_orderkey": np.arange(o, dtype=np.float64),
        # Unique per row: a shared-string table of ~150k entries.
        "o_clerkref": [f"ORD-{i:07d}-{np.base_repr(t, 36):0>6}" for i, t in enumerate(tag)],
        "o_orderstatus": status[rng.integers(0, 3, o)],
        "o_orderpriority": prios[rng.integers(0, 5, o)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(odate.astype(np.int32), pa.date32()),
    }), f"{out}/scan_orders.parquet")
    rng = _rng("corpus_source")
    c = CORPUS_ROWS * 2  # the corpus takes a seeded window of this
    _write(pa.table({
        "c_key": np.arange(c, dtype=np.float64),
        "c_flag": flags[rng.integers(0, 3, c)],
        "c_qty": rng.integers(1, 51, c).astype(np.float64),
        "c_price": _cents(rng, 900.0, 105000.0, c),
        "c_note": [f"corpus note {i % 997:03d} of {i % 7}" for i in rng.integers(0, 10**6, c)],
        "c_date": pa.array(
            rng.integers(_days(dt.date(1995, 1, 1)), _days(dt.date(2001, 1, 1)), c)
            .astype(np.int32), pa.date32()),
    }), f"{out}/corpus_source.parquet")


def _workbook_rows(table: pa.Table) -> list[list]:
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return [list(table.column_names)] + [list(r) for r in zip(*cols)]


def foreignize(src: str, dst: str) -> None:
    """Rewrite a workbook the way a foreign producer would: every member
    plainly recompressed, no split index, no flush points, no comment."""
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        dst, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))


def _workbooks(base: str) -> None:
    from sheetreader_duckdb_spark import index_xlsx
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    li = pq.read_table(f"{base}/scan_lineitem.parquet")
    write_xlsx(f"{base}/lineitem.xlsx.tmp", {"Sheet1": _workbook_rows(li)})
    os.replace(f"{base}/lineitem.xlsx.tmp", f"{base}/lineitem.xlsx")
    foreignize(f"{base}/lineitem.xlsx", f"{base}/lineitem_foreign.xlsx.tmp")
    os.replace(f"{base}/lineitem_foreign.xlsx.tmp", f"{base}/lineitem_foreign.xlsx")
    od = pq.read_table(f"{base}/scan_orders.parquet")
    write_xlsx(f"{base}/orders.xlsx.tmp", {"Sheet1": _workbook_rows(od)})
    # The retrofit authors per-interval min/max stats: the pruned read's
    # filter on the clustered key can then skip most intervals.
    res = index_xlsx(f"{base}/orders.xlsx.tmp")
    if not res.get("indexed"):
        raise RuntimeError(f"orders workbook retrofit failed: {res}")
    os.replace(f"{base}/orders.xlsx.tmp", f"{base}/orders.xlsx")


def ensure_base(root: str) -> str:
    """Generate the base data set once per checkout; returns its dir."""
    base = os.path.join(root, "cache", CACHE_VERSION, "base")
    done = os.path.join(base, "DONE")
    if os.path.exists(done):
        return base
    os.makedirs(base, exist_ok=True)
    _relational(base)
    _scan_tables(base)
    _workbooks(base)
    with open(done, "w") as f:
        f.write("ok\n")
    return base


# -- per-seed plan -------------------------------------------------------------


def skewed_sizes(rng: random.Random, total: int, n: int, min_rows: int) -> list[int]:
    """``n`` file sizes summing to ``total``, Zipf-skewed (s=1) in a seeded
    order, each at least ``min_rows``."""
    w = [1.0 / (i + 1) for i in range(n)]
    rng.shuffle(w)
    free = total - n * min_rows
    sizes = [min_rows + int(free * x / sum(w)) for x in w]
    sizes[0] += total - sum(sizes)
    return sizes


def seed_plan(seed: int) -> dict:
    """Everything the benchmark derives from ``--seed``."""
    rng = random.Random(seed)
    c_start = rng.randrange(0, CORPUS_ROWS)  # window into corpus_source
    sizes = skewed_sizes(rng, CORPUS_ROWS - CORPUS_LARGEST, CORPUS_FILES - 1, 600)
    largest = rng.randrange(CORPUS_FILES)
    sizes.insert(largest, CORPUS_LARGEST)
    # The largest file and a seeded other one come from a foreign producer.
    foreign = sorted({largest, rng.choice([i for i in range(CORPUS_FILES) if i != largest])})
    single = sorted(rng.sample(range(CORPUS_FILES), CORPUS_FILE_READS))
    # Filter windows of fixed width at seeded positions, so the work per
    # read is the same for every seed while the constants are not.
    o_lo = rng.randrange(0, SCAN_ORDERS_ROWS - SCAN_ORDERS_ROWS // 10)
    return {
        "seed": seed,
        "corpus_start": c_start,
        "corpus_sizes": sizes,
        "corpus_foreign": foreign,
        "corpus_single_reads": single,
        "pruned_where": (o_lo, o_lo + SCAN_ORDERS_ROWS // 20 - 1),
        "order_seed": rng.randrange(1 << 30),
    }
