"""A benchmark-owned subclass of the sheetreader data source that delegates
every call to it and records how long each call took.

Used only by the traced run. The class is pickled by value into Spark's
Python workers, so its records cannot go back through the driver: each
worker appends JSON lines to ``w-<pid>.jsonl`` in the trace directory.
Inflated bytes are counted by wrapping ``zlib.decompressobj`` inside the
worker; the counter lives on the ``zlib`` module so it survives the
per-task unpickling of this class.
"""

from __future__ import annotations

import json
import os
import time

from sheetreader_duckdb_spark.sources.xlsx.datasource import (
    SheetReaderDataSource,
    SheetReaderReader,
    SheetReaderWriter,
)


def _emit(trace_dir: str, rec: dict) -> None:
    with open(os.path.join(trace_dir, f"w-{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def _count_inflation() -> list:
    import zlib

    counter = getattr(zlib, "_perfbench_inflated", None)
    if counter is not None:
        return counter
    counter = [0]
    real = zlib.decompressobj

    class Counting:
        __slots__ = ("_d",)

        def __init__(self, d):
            self._d = d

        def decompress(self, data, max_length=0):
            out = self._d.decompress(data, max_length)
            counter[0] += len(out)
            return out

        def flush(self, *args):
            out = self._d.flush(*args)
            counter[0] += len(out)
            return out

        def __getattr__(self, name):
            return getattr(self._d, name)

    def decompressobj(*args, **kwargs):
        return Counting(real(*args, **kwargs))

    zlib.decompressobj = decompressobj
    zlib._perfbench_inflated = counter
    return counter


class TracedReader(SheetReaderReader):
    trace_dir: str = ""

    def partitions(self):
        t0 = time.time()
        parts = super().partitions()
        _emit(self.trace_dir, {"name": "datasource.partitions", "start": t0,
                               "end": time.time(), "shards": len(parts)})
        return parts

    def read(self, partition):
        counter = _count_inflation()
        t0, inflated0 = time.time(), counter[0]
        rows = batches = nbytes = 0
        for batch in super().read(partition):
            if hasattr(batch, "num_rows"):
                rows += batch.num_rows
                nbytes += batch.nbytes
            else:
                rows += 1
            batches += 1
            yield batch
        _emit(self.trace_dir, {
            "name": "datasource.read", "start": t0, "end": time.time(),
            "rows": rows, "batches": batches, "bytes": nbytes,
            "inflated": counter[0] - inflated0, "path": partition.path,
            "shard": partition.shard, "n_shards": partition.n_shards,
        })


class TracedWriter(SheetReaderWriter):
    trace_dir: str = ""

    def write(self, iterator):
        n = [0]

        def counted():
            for row in iterator:
                n[0] += 1
                yield row

        t0 = time.time()
        msg = super().write(counted())
        _emit(self.trace_dir, {"name": "writer.write", "start": t0,
                               "end": time.time(), "rows": n[0]})
        return msg


class TracedSource(SheetReaderDataSource):
    trace_dir: str = ""

    def schema(self):
        _count_inflation()
        t0 = time.time()
        s = super().schema()
        _emit(self.trace_dir, {"name": "datasource.schema", "start": t0, "end": time.time()})
        return s

    def reader(self, schema):
        r = super().reader(schema)
        r.__class__ = TracedReader
        r.trace_dir = self.trace_dir
        return r

    def writer(self, schema, overwrite):
        w = super().writer(schema, overwrite)
        w.__class__ = TracedWriter
        w.trace_dir = self.trace_dir
        return w
