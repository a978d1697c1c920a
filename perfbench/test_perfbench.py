"""Unit tests of the benchmark's own helpers (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


# -- tail percentile ---------------------------------------------------------------


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    value, pct, n = stats.tail([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(40, 0, -1)]  # unsorted input
    value, pct, n = stats.tail(xs)
    assert n == 40
    assert sum(x > value for x in xs) == 10
    assert (value, pct) == (30.0, 75.0)


# -- failed-op counting ----------------------------------------------------------------


def test_failed_ops_are_counted_and_not_timed():
    log = stats.OpLog()
    log.record("load", 1.0, 100, [])
    log.record("load", 0.1, 99, ["checksum[0] got 99 expected 100"])
    log.record_error("dir_read", RuntimeError("boom"))
    assert log.attempted == 3
    assert log.failed == 2
    assert log.failed_ratio() == pytest.approx(2 / 3)
    assert log.latencies == {"load": [1.0]}  # a wrong result never reads as fast
    assert [name for name, _ in log.failures] == ["load", "dir_read"]


# -- Spark's hash of a bigint -------------------------------------------------------------


def test_spark_hash_long_matches_spark():
    # hash(id) as Spark 4 computes it for these bigints
    expected = {0: -1670924195, 1: -1712319331, 42: 1316951768, -7: 222034016,
                12345678901: 68315045}
    assert {v: stats.spark_hash_long(v) for v in expected} == expected


# -- span self time ----------------------------------------------------------------------


def test_self_time_with_overlapping_children():
    # children cover [1, 6] and [8, 10] of the parent: 7 of its 10 seconds
    assert stats.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]) == pytest.approx(3.0)
    assert stats.self_time((0, 10), [(2, 3), (2, 3)]) == pytest.approx(9.0)
    assert stats.self_time((0, 10), [(11, 12)]) == pytest.approx(10.0)


def test_op_accounting_sums_descendant_self_times():
    spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None, "op": "a"},
        {"id": 1, "name": "construct", "start": 0.5, "end": 4.0, "parent": 0, "op": "a"},
        {"id": 2, "name": "materialize", "start": 4.0, "end": 10.0, "parent": 0, "op": "a"},
        {"id": 3, "name": "spark.job", "start": 5.0, "end": 9.0, "parent": None, "op": "a",
         "external": True},
        {"id": 4, "name": "spark.job", "start": 6.0, "end": 7.0, "parent": None, "op": "a",
         "external": True},
    ]
    tracing.nest_external(spans)
    assert spans[3]["parent"] == 2 and spans[4]["parent"] == 2
    (acc,) = tracing.op_accounting(spans)
    # the job nested in the other job's interval is counted twice, which
    # is why the traced run merges concurrent jobs into busy intervals
    assert acc["wall_s"] == 10.0
    assert acc["accounted"] == pytest.approx((3.5 + 2.0 + 4.0 + 1.0) / 10.0)


def test_stage_segments_take_first_mark_of_each_stage():
    marks = [("quality", 1.0), ("exact_dedup", 2.0), ("quality", 2.5), ("near_dedup", 4.0)]
    segs = tracing.stage_segments(marks, construct_end=6.0, op_end=7.0)
    assert segs == [("quality", 1.0, 2.0), ("exact_dedup", 2.0, 4.0),
                    ("near_dedup", 4.0, 6.0), ("output", 6.0, 7.0)]


# -- checksums ---------------------------------------------------------------------------

COLS = [("k", "DOUBLE"), ("s", "VARCHAR"), ("d", "DATE")]
ROWS = [(1.25, "alpha", 10), (2.5, None, 11), (None, "gamma", None), (99.99, "delta", 19000)]


def test_checksum_catches_one_perturbed_cell():
    base = stats.checksum_python(COLS, ROWS)
    for row, col, value in ((0, 0, 1.26), (1, 1, "x"), (3, 1, "delte"), (3, 2, 19001),
                            (2, 0, 0.0)):
        bad = [list(r) for r in ROWS]
        bad[row][col] = value
        got = stats.checksum_python(COLS, [tuple(r) for r in bad])
        assert stats.compare_checksums(base, got), (row, col, value)
    assert stats.compare_checksums(base, stats.checksum_python(COLS, ROWS)) == []
    assert stats.compare_checksums(base, stats.checksum_python(COLS, ROWS[:-1]))


def test_duckdb_checksum_matches_python_reference():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k DOUBLE, s VARCHAR, d DATE)")
    epoch = dt.date(1970, 1, 1)
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", [
        (k, s, None if d is None else epoch + dt.timedelta(days=d)) for k, s, d in ROWS
    ])
    got = con.execute(f"SELECT {', '.join(stats.checksum_sql(COLS, 'duckdb'))} FROM t").fetchone()
    assert stats.compare_checksums(stats.checksum_python(COLS, ROWS), list(got)) == []


# -- seeded plan -------------------------------------------------------------------------


def test_seed_plan_is_a_function_of_the_seed():
    assert gen.seed_plan(7) == gen.seed_plan(7)
    assert gen.seed_plan(7) != gen.seed_plan(8)
    p = gen.seed_plan(3)
    assert sum(p["corpus_sizes"]) == gen.CORPUS_ROWS
    assert min(p["corpus_sizes"]) >= 200
    assert max(p["corpus_sizes"]) > 3 * min(p["corpus_sizes"])  # skewed
    assert p["corpus_sizes"].index(max(p["corpus_sizes"])) in p["corpus_foreign"]


# -- BENCHMARK.json agrees with what run.py prints -----------------------------------


def test_benchmark_json_matches_the_runner():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
