"""Split-indexed shared-strings heap (parser.IntervalStringHeap +
splitindex sst section): sharded readers inflate only the heap intervals
their rows reference. Pins: (a) interval-heap strings identical to the
eager heap's, (b) sharded Spark-less reads identical to single-thread,
(c) a corrupt sst section falls back to the full heap with identical
results, (d) the planning-time string-heavy shard cap lifts when the
index is present (the cost it throttles no longer exists)."""

from __future__ import annotations

import json
import shutil
import zipfile

import pytest

from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from sheetreader_duckdb_spark.sources.xlsx import datasource as DS
from sheetreader_duckdb_spark.sources.xlsx import parser as P
from sheetreader_duckdb_spark.sources.xlsx import splitindex as SI
from sheetreader_duckdb_spark.sources.xlsx.writer import IncrementalXlsxWriter

N = 120_000


@pytest.fixture(scope="module")
def stringy_xlsx(tmp_path_factory):
    """Unique long strings: sst raw bytes ≳ sheet raw bytes, several sst
    intervals, several row intervals."""
    import hashlib

    path = str(tmp_path_factory.mktemp("sst") / "stringy.xlsx")
    w = IncrementalXlsxWriter(path, "Sheet1")
    w.write_row(["k", "comment"])
    for i in range(N):
        # Hex digests compress poorly, so the sst member dwarfs the sheet
        # both raw and compressed — the shape the string-heavy shard cap
        # (and this heap) exist for.
        s = str(i).encode()
        h = (
            hashlib.sha512(s).hexdigest()
            + hashlib.sha512(s + b"x").hexdigest()
        )
        w.write_row([float(i), f"unique comment {i} {h}"])
    w.close()
    return path


SCHEMA = StructType(
    [StructField("k", DoubleType()), StructField("comment", StringType())]
)


def _collect(options, schema=SCHEMA, default_parallelism=None):
    reader = DS.SheetReaderReader(options, schema, default_parallelism)
    rows: list[tuple] = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


def test_sst_index_written_and_interval_heap_matches_eager(stringy_xlsx):
    with zipfile.ZipFile(stringy_xlsx) as zf:
        spts = SI.decode_sst_index(zf)
        assert spts is not None and len(spts) >= 2
        info = zf.getinfo("xl/sharedStrings.xml")
        assert spts[-1][0] == info.compress_size
    P._SST_LAZY_CACHE.clear()
    with P.XlsxWorkbook(stringy_xlsx) as wb:
        heap = wb.shared_strings_lazy()
        assert isinstance(heap, P.IntervalStringHeap)
        eager = wb.shared_strings  # independent full parse
        assert len(heap) == len(eager) == spts[-1][1]
        # spot probes across intervals + a bulk decode in arbitrary order
        import numpy as np

        probe = [0, 1, len(eager) // 3, len(eager) // 2, len(eager) - 1]
        assert [heap[i] for i in probe] == [eager[i] for i in probe]
        idx = np.array([7, len(eager) - 2, 3, len(eager) // 2 + 5])
        assert heap.decode_many_arrow(idx).to_pylist() == [
            eager[j] for j in idx.tolist()
        ]
        # only the touched intervals were inflated — the point of the heap
        assert 0 < len(heap._subs) <= len(spts)


def test_sst_indexed_sharded_read_equals_single(stringy_xlsx, spark, tmp_path):
    """Sharded reads return exactly the single-thread rows: an explicit
    6-shard read, and the AUTO plan at the session's width — one wave of
    shards — on the indexed file and on a foreign copy with no index,
    whose every shard re-inflates the whole members."""
    P._SST_LAZY_CACHE.clear()
    single = _collect({"path": stringy_xlsx, "threads": "1"})
    key = lambda r: r[0]  # noqa: E731
    want = sorted(single, key=key)
    P._SST_LAZY_CACHE.clear()
    sharded = _collect({"path": stringy_xlsx, "threads": "6"})
    assert len(sharded) == N
    assert sorted(sharded, key=key) == want
    foreign = str(tmp_path / "foreign.xlsx")
    with zipfile.ZipFile(stringy_xlsx) as zin, zipfile.ZipFile(
        foreign, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            zout.writestr(info.filename, zin.read(info.filename))
    width = spark.sparkContext.defaultParallelism
    for path in (stringy_xlsx, foreign):
        plan = DS.SheetReaderReader({"path": path}, SCHEMA, width).partitions()
        assert len(plan) <= width
        if width >= 2:  # a one-slot session plans the single shard
            assert len(plan) > 1
        P._SST_LAZY_CACHE.clear()
        got = _collect({"path": path}, default_parallelism=width)
        assert sorted(got, key=key) == want


def test_sst_corrupt_section_falls_back_to_full_heap(stringy_xlsx, tmp_path):
    """A lying sst section (entry counts shifted) defeats per-interval
    validation; results must still be IDENTICAL via the full-heap
    fallback — the index can never change strings."""
    p = str(tmp_path / "lying_sst.xlsx")
    shutil.copy(stringy_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
    payload["sr"] = [c + 1 for c in payload["sr"]]  # shift every interval
    with zipfile.ZipFile(p, "a") as zf:
        zf.comment = SI.MAGIC + json.dumps(payload, separators=(",", ":")).encode()
    P._SST_LAZY_CACHE.clear()
    got = _collect({"path": p, "threads": "6"})
    P._SST_LAZY_CACHE.clear()
    want = _collect({"path": stringy_xlsx, "threads": "1"})
    key = lambda r: r[0]  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)


def test_sst_index_lifts_string_heavy_shard_cap(stringy_xlsx, tmp_path):
    """Planning: without the sst index the string-heavy refinement caps
    the fan-out (~8 × sheet/sst bytes); with it the size-based count
    stands — per-shard heap cost no longer exists to throttle. Planned at
    4 and at 32 task slots: a one-wave budget of 4 must not skip the
    metadata probe."""

    def n_parts(path, slots):
        reader = DS.SheetReaderReader(
            {"path": path}, SCHEMA, default_parallelism=slots
        )
        return len(reader.partitions())

    # strip ONLY the sst section; keep the row index so everything else
    # about the plan is unchanged
    p = str(tmp_path / "no_sst_section.xlsx")
    shutil.copy(stringy_xlsx, p)
    with zipfile.ZipFile(p) as zf:
        payload = json.loads(zf.comment[len(SI.MAGIC):])
    for k in ("sc", "sr", "sn"):
        payload.pop(k, None)
    with zipfile.ZipFile(p, "a") as zf:
        zf.comment = SI.MAGIC + json.dumps(payload, separators=(",", ":")).encode()
    # this fixture's sst dwarfs its sheet, so the capped count is smaller
    for slots in (4, 32):
        assert n_parts(p, slots) < n_parts(stringy_xlsx, slots), slots


def test_interval_heap_corrupt_refs_match_sequential_semantics(stringy_xlsx):
    """r10 review (confirmed crash): a corrupt string ref (e.g. a cell
    with <v>-1</v>) used to escape the interval heap as an uncaught
    ParseError from expat on a truncated fragment. Any lookup miss must
    resolve through the full-heap fallback, answering exactly like a
    single-thread read (Python list semantics for negatives included)."""
    import numpy as np

    P._SST_LAZY_CACHE.clear()
    with P.XlsxWorkbook(stringy_xlsx) as wb:
        heap = wb.shared_strings_lazy()
        assert isinstance(heap, P.IntervalStringHeap)
        eager = wb.shared_strings
        # scalar negative ref: same answer as the eager list
        assert heap[-1] == eager[-1]
        # bulk path declines corrupt refs to the scalar path, no crash
        assert heap.decode_many_arrow(np.array([-1])) is None
        assert heap.decode_many([-1, 0]) == [eager[-1], eager[0]]
        # far out of range raises like a list does
        with pytest.raises(IndexError):
            heap[len(eager) + 10]


def test_point_thinning_keeps_a_valid_index(tmp_path):
    """Past MAX_POINTS the writer thins points 2:1 and doubles the
    interval — any subset of valid flush points is a valid (coarser)
    index, so the sharded read stays exact and the comment stays
    bounded."""
    from sheetreader_duckdb_spark.sources.xlsx import writer as W

    path = str(tmp_path / "thin.xlsx")
    saved_i, saved_m = W.SPLIT_INTERVAL, W.MAX_POINTS
    W.SPLIT_INTERVAL, W.MAX_POINTS = 256, 4
    try:
        w = IncrementalXlsxWriter(path, "Sheet1")
        w.write_row(["k", "s"])
        for i in range(3_000):
            w.write_row([float(i), f"row string {i} with some body"])
        w.close()
    finally:
        W.SPLIT_INTERVAL, W.MAX_POINTS = saved_i, saved_m
    with zipfile.ZipFile(path) as zf:
        pts = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        assert pts is not None
        # thinning kept the count bounded (cap + in-flight growth margin)
        assert len(pts) <= 4 + 2
        assert pts[-1][1] == 3_001
    schema = StructType(
        [StructField("k", DoubleType()), StructField("s", StringType())]
    )
    P._SST_LAZY_CACHE.clear()
    single = _collect({"path": path, "threads": "1"}, schema)
    P._SST_LAZY_CACHE.clear()
    sharded = _collect({"path": path, "threads": "3"}, schema)
    key = lambda r: r[0]  # noqa: E731
    assert sorted(single, key=key) == sorted(sharded, key=key)
    assert len(sharded) == 3_000


def test_second_sheet_never_uses_first_sheets_index(tmp_path):
    """A sheet_index=2 read must never consume sheet 1's index section.
    Pre-r11 that meant sheet 2 decoded to None (entry-name check); since
    r11 every big-enough sheet carries its OWN section under the `m` key
    — so the protection is now: sheet 2's decode returns ITS counts (7+1
    physical rows), never sheet 1's 201, and the sharded read agrees with
    the written data. The interval is forced tiny so both sheets
    GENUINELY carry sections — at the 4 MB default this workbook would
    get no comment at all and the assertions would pass vacuously
    (r10 review)."""
    from sheetreader_duckdb_spark.sources.xlsx import writer as W
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    path = str(tmp_path / "two.xlsx")
    s1 = [["a"]] + [[float(i)] for i in range(200)]
    s2 = [["b"]] + [[float(i) * 2] for i in range(7)]
    saved = W.SPLIT_INTERVAL
    W.SPLIT_INTERVAL = 256
    try:
        write_xlsx(path, {"One": s1, "Two": s2})
    finally:
        W.SPLIT_INTERVAL = saved
    with zipfile.ZipFile(path) as zf:
        pts1 = SI.decode_split_index(zf, "xl/worksheets/sheet1.xml")
        pts2 = SI.decode_split_index(zf, "xl/worksheets/sheet2.xml")
        assert pts1 is not None and pts1[-1][1] == 201
        assert pts2 is not None and pts2[-1][1] == 8  # ITS rows, not 201
        # an entry the workbook doesn't index resolves to nothing
        assert SI.decode_split_index(zf, "xl/worksheets/sheet9.xml") is None
    schema = StructType([StructField("b", DoubleType())])
    got = _collect({"path": path, "threads": "2", "sheet_index": "2"}, schema)
    assert sorted(v for (v,) in got) == [float(i) * 2 for i in range(7)]


def test_sst_only_index_publishes_for_heap_dominated_files(tmp_path):
    """A workbook whose tiny sheet never reaches one flush interval but
    whose heap does still gets an sst-only comment — interval heaps and
    the planner's cap lift apply even when the worksheet index is absent
    (r10 review: the sst section used to be droppable only inside the
    worksheet-index gate)."""
    from sheetreader_duckdb_spark.sources.xlsx.writer import write_xlsx

    path = str(tmp_path / "heapy.xlsx")
    rows = [["s"]] + [[f"unique {i} " + "x" * 50_000] for i in range(120)]
    write_xlsx(path, {"S": rows})
    with zipfile.ZipFile(path) as zf:
        assert SI.decode_split_index(zf, "xl/worksheets/sheet1.xml") is None
        spts = SI.decode_sst_index(zf)
        assert spts is not None and len(spts) >= 2
    P._SST_LAZY_CACHE.clear()
    with P.XlsxWorkbook(path) as wb:
        heap = wb.shared_strings_lazy()
        assert isinstance(heap, P.IntervalStringHeap)
        assert heap[5] == rows[5][0]  # intern order: header "s" is entry 0


@pytest.mark.slow
def test_pruned_filtered_sharded_read_on_indexed_file(stringy_xlsx, spark):
    """Composition: reader-side pruning + filter pushdown + the split
    index together — a projected, filtered, multi-shard read of an
    indexed string-heavy file returns exactly the rows a full unsharded
    scan filters to."""
    from sheetreader_duckdb_spark import read_xlsx, register

    register(spark)
    df = read_xlsx(
        spark, stringy_xlsx,
        columns=["k"], where="k < 100", threads="6",
    )
    got = sorted(r["k"] for r in df.collect())
    assert got == [float(i) for i in range(100)]


def test_interval_heap_cache_is_epoch_cleared_and_lru_bounded(stringy_xlsx):
    """r12 scale fix: the worker-pinned IntervalStringHeap must not
    accumulate sub-heaps forever (repeated SF10 reads degraded 42->140 s
    per pass). Two bounds, both pinned: bump_sst_epoch() (called by the
    datasource at every task entry) clears the previous task's cache,
    and the LRU cap bounds one task's footprint — with identical decode
    results before and after eviction."""
    P._SST_LAZY_CACHE.clear()
    with P.XlsxWorkbook(stringy_xlsx) as wb:
        heap = wb.shared_strings_lazy()
        assert isinstance(heap, P.IntervalStringHeap)
        eager = wb.shared_strings
        n = len(eager)
        # touch several intervals
        step = max(1, n // 8)
        probe = list(range(0, n, step))
        assert [heap[i] for i in probe] == [eager[i] for i in probe]
        assert len(heap._subs) > 0
        # a new task boundary drops everything the last task touched
        P.bump_sst_epoch()
        assert heap[0] == eager[0]
        assert len(heap._subs) == 1  # only the freshly touched interval
        # LRU bound: hammer more distinct intervals than the cap allows
        # (synthetically shrink the cap so the fixture suffices)
        old = P.IntervalStringHeap._MAX_CACHED_SUBS
        try:
            P.IntervalStringHeap._MAX_CACHED_SUBS = 2
            # the probe must span MORE intervals than the shrunken cap,
            # or the eviction loop passes vacuously (r12 review)
            from bisect import bisect_right

            assert len({bisect_right(heap._cums, i) for i in probe}) > 2
            vals = [heap[i] for i in probe] + [heap[i] for i in reversed(probe)]
            assert vals == [eager[i] for i in probe] + [
                eager[i] for i in reversed(probe)
            ]
            assert len(heap._subs) <= 2  # bounded despite the sweep
        finally:
            P.IntervalStringHeap._MAX_CACHED_SUBS = old
