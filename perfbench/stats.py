"""Pure helpers of the benchmark: summaries, failure counting, checksums
and span self-times. No Spark here, so the unit tests run in milliseconds."""

from __future__ import annotations

import hashlib


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: the sample with exactly ``beyond``
    samples above it in sorted order, the percentile that sample sits at,
    and the sample count. ``None`` when there are not more than ``beyond``
    samples, so no percentile qualifies."""
    n = len(xs)
    if n <= beyond:
        return None
    ordered = sorted(xs)
    k = n - beyond - 1
    return ordered[k], 100.0 * (k + 1) / n, n


class OpLog:
    """Outcome of every op attempted in a run. An op fails when it raises
    or when its result check finds a mismatch; either way its latency is
    not recorded, so a failure can never read as a fast op."""

    def __init__(self) -> None:
        self.latencies: dict[str, list[float]] = {}
        self.rows: dict[str, list[int]] = {}
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0

    def record(self, name: str, seconds: float, rows: int, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failures.append((name, "; ".join(problems)[:300]))
            return
        self.latencies.setdefault(name, []).append(seconds)
        self.rows.setdefault(name, []).append(rows)

    def count_outcomes(self, other: "OpLog") -> None:
        """Add another log's attempts and failures, not its latencies: an
        untimed warm-up op that goes wrong still fails the run."""
        self.attempted += other.attempted
        self.failures.extend(other.failures)

    def record_error(self, name: str, err: BaseException) -> None:
        self.attempted += 1
        self.failures.append((name, f"{type(err).__name__}: {err}"[:300]))

    @property
    def failed(self) -> int:
        return len(self.failures)

    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# -- Spark's hash of a bigint ---------------------------------------------------------

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix32(h1: int, k1: int) -> int:
    k1 = _rotl32(k1 * 0xCC9E2D51 & _M32, 15) * 0x1B873593 & _M32
    return (_rotl32(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def spark_hash_long(v: int, seed: int = 42) -> int:
    """Spark SQL's ``hash(v)`` for a bigint ``v`` (Murmur3 x86 32-bit with
    Spark's seed), as a signed int: ``hash(v) % n`` is the partition that
    ``repartition(n, v)`` sends ``v`` to."""
    h = _mix32(_mix32(seed, v & _M32), (v >> 32) & _M32) ^ 8
    h = (h ^ (h >> 16)) * 0x85EBCA6B & _M32
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


# -- checksums -------------------------------------------------------------------
#
# Each column of a read is summarized by integers that DuckDB and Spark
# compute identically: counts, cents sums for doubles (every generated
# double is cents-quantized), day sums for dates, length sums and a 40-bit
# md5 prefix sum for strings. Any changed, dropped or duplicated cell moves
# at least one of them.


def checksum_sql(columns: list[tuple[str, str]], engine: str) -> list[str]:
    """Aggregate expressions, in a fixed order, for ``(name, type)``
    columns where type is DOUBLE, VARCHAR or DATE."""
    out = ["count(*)"]
    for name, typ in columns:
        c = f"`{name}`" if engine == "spark" else f'"{name}"'
        out.append(f"count({c})")
        if typ == "DOUBLE":
            out.append(
                f"sum(cast(round({c} * 100) as bigint))"
                if engine == "spark"
                else f"sum(round({c} * 100)::BIGINT)"
            )
        elif typ == "DATE":
            out.append(
                f"sum(datediff({c}, date'1970-01-01'))"
                if engine == "spark"
                else f"sum({c} - DATE '1970-01-01')"
            )
        elif typ == "VARCHAR":
            out.append(f"sum(length({c}))")
            out.append(
                f"sum(cast(conv(substr(md5({c}), 1, 10), 16, 10) as bigint))"
                if engine == "spark"
                else f"sum(('0x' || substr(md5({c}), 1, 10))::BIGINT)"
            )
        else:
            raise ValueError(f"no checksum for type {typ}")
    return out


def checksum_python(columns: list[tuple[str, str]], rows: list[tuple]) -> list[int]:
    """Reference implementation of ``checksum_sql`` over Python rows
    (dates as day numbers since 1970-01-01)."""
    out = [len(rows)]
    for i, (_, typ) in enumerate(columns):
        vals = [r[i] for r in rows if r[i] is not None]
        out.append(len(vals))
        if typ == "DOUBLE":
            out.append(sum(int(round(v * 100)) for v in vals))
        elif typ == "DATE":
            out.append(sum(vals))
        else:
            out.append(sum(len(v) for v in vals))
            out.append(sum(int(hashlib.md5(v.encode()).hexdigest()[:10], 16) for v in vals))
    return out


def compare_checksums(expected: list, got: list) -> list[str]:
    """Mismatch descriptions; empty when every summary agrees."""
    got = [None if g is None else int(g) for g in got]
    expected = [None if e is None else int(e) for e in expected]
    if len(got) != len(expected):
        return [f"checksum arity {len(got)} != {len(expected)}"]
    return [
        f"checksum[{i}] got {g} expected {e}"
        for i, (g, e) in enumerate(zip(got, expected))
        if g != e
    ]


# -- spans -----------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover.
    Children may overlap each other and may stick out of the span; only
    their union inside the span counts."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)
