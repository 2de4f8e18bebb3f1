"""Spans recorded from outside the program, and the in-process task replays.

The traced run wraps the public functions of each layer in the bench
process (``Tracer.patch``) and records one span per call: name, start, end,
parent span and run id, kept in memory and written out when the run ends.
Spark's Python workers are forked processes out of reach of these wrappers,
so the worker-side layers are timed by replaying the task entry points
(``pipeline.make_encode_files_fn``, ``verify.make_verify_files_fn`` and
``operators.encode.decode_column``) in this process over the same files.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []  # [name, start, end, parent, attrs]
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, attrs])
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn, attrs_of=None):
        tracer = self

        def wrapper(*a, **k):
            with tracer.span(name) as s:
                out = fn(*a, **k)
                if attrs_of is not None:
                    s[4].update(attrs_of(a, out))
                return out
        wrapper.__wrapped__ = fn
        return wrapper

    def wrap_iter(self, name: str, it):
        """Time every ``next()`` of an iterator as one span."""
        while True:
            with self.span(name):
                try:
                    item = next(it)
                except StopIteration:
                    return
            yield item

    def patch(self, obj, attr: str, value) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def patch_fn(self, obj, attr: str, name: str, attrs_of=None) -> None:
        self.patch(obj, attr, self.wrap(name, getattr(obj, attr), attrs_of))

    def unpatch(self) -> None:
        while self._undo:
            obj, attr, old = self._undo.pop()
            setattr(obj, attr, old)

    # --- queries over recorded spans ---------------------------------------

    def named(self, name: str, under: str | None = None) -> list:
        out = [s for s in self.spans if s[0] == name]
        if under is not None:
            out = [s for s in out if self.ancestor(s, under) is not None]
        return out

    def ancestor(self, s, name: str):
        p = s[3]
        while p >= 0:
            if self.spans[p][0] == name:
                return self.spans[p]
            p = self.spans[p][3]
        return None

    def total(self, name: str, under: str | None = None) -> float:
        return sum(s[2] - s[1] for s in self.named(name, under))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, (name, t0, t1, parent, attrs) in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": name, "start": t0,
                                     "end": t1, "parent": parent,
                                     "run_id": self.run_id, **attrs})
                         + "\n")


class _ModuleProxy:
    """A module stand-in whose listed attributes are replaced."""

    def __init__(self, real, **overrides):
        self._real = real
        self.__dict__.update(overrides)

    def __getattr__(self, name):
        return getattr(self._real, name)


class _TimedWriter:
    def __init__(self, tracer: Tracer, writer):
        self._t, self._w = tracer, writer

    def write_batch(self, *a, **k):
        with self._t.span("task.write"):
            return self._w.write_batch(*a, **k)

    def close(self):
        with self._t.span("task.write"):
            return self._w.close()


class _TimedParquetFile:
    def __init__(self, tracer: Tracer, pf):
        self._t, self._pf = tracer, pf

    def __getattr__(self, name):
        return getattr(self._pf, name)

    def iter_batches(self, *a, **k):
        return self._t.wrap_iter("task.read", self._pf.iter_batches(*a, **k))


# --- driver-side wrappers -----------------------------------------------------

DRIVER_SPANS = ("df.toArrow", "pipeline.meta_write", "manifest.commit_wave",
                "manifest.committed_input_files", "manifest.completed_waves",
                "fsutil.read_json")


def wrapped_call_cost(calls: int = 20_000) -> float:
    """Seconds one call through a ``Tracer.wrap`` wrapper adds, over a bare
    call of the same function (median of five batches)."""
    import statistics

    def noop():
        return None

    wrapped = Tracer("calibration").wrap("noop", noop)
    costs = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(calls):
            noop()
        t1 = time.perf_counter()
        for _ in range(calls):
            wrapped()
        costs.append(((time.perf_counter() - t1) - (t1 - t0)) / calls)
    return statistics.median(costs)


def install_driver(tracer: Tracer) -> None:
    """Wrap the driver-side layer entry points used by encode_path,
    verify_files and read_decoded. Only module attributes the driver looks
    up are replaced."""
    from pyspark.sql.classic.dataframe import DataFrame

    from embulk_input_parquet_hadoop_spark.plans import (fsutil, manifest,
                                                         pipeline)
    tracer.patch_fn(DataFrame, "toArrow", "df.toArrow")
    # patch pyarrow's own attribute, not pipeline's module global: the
    # task closures pickle their globals, and the workers cannot import
    # this file
    tracer.patch_fn(pipeline.pq, "write_table", "pipeline.meta_write")
    for fn in ("commit_wave", "committed_input_files", "completed_waves"):
        tracer.patch_fn(manifest, fn, f"manifest.{fn}")
    tracer.patch_fn(fsutil, "read_json", "fsutil.read_json")


# --- worker-side replays ------------------------------------------------------

def _install_codec_layers(tracer: Tracer) -> None:
    from embulk_input_parquet_hadoop_spark.codecs import bitpack, intcodecs
    from embulk_input_parquet_hadoop_spark.operators import encode as enc
    tracer.patch_fn(enc, "_maybe_compress", "encode.zstd",
                    lambda a, out: {"kept": "z" in out[1]})
    tracer.patch_fn(enc, "encode_best", "select.encode_best",
                    lambda a, out: {"choice": out[0]})
    xp_enc, xp_dec = intcodecs.INT_CODECS["xp"]
    tracer.patch(intcodecs, "INT_CODECS", dict(intcodecs.INT_CODECS))
    intcodecs.INT_CODECS["xp"] = (tracer.wrap("codecs.xp_encode", xp_enc),
                                  xp_dec)
    # select.py looks INT_CODECS up through its own module global
    from embulk_input_parquet_hadoop_spark.operators import select
    tracer.patch(select, "INT_CODECS", intcodecs.INT_CODECS)
    tracer.patch_fn(bitpack, "pack", "codecs.bitpack_pack")


def replay_encode(tracer: Tracer, files: list[str], wave_dir: str) -> float:
    """Run the encode task entry point over ``files`` in this process, one
    task per file as Spark would; returns the summed task wall."""
    from embulk_input_parquet_hadoop_spark.plans import fsutil, pipeline
    _install_codec_layers(tracer)
    real_open = fsutil.parquet_file

    def timed_open(path):
        with tracer.span("task.read"):
            return _TimedParquetFile(tracer, real_open(path))

    def timed_writer(*a, **k):
        with tracer.span("task.write"):
            return _TimedWriter(tracer, pq.ParquetWriter(*a, **k))

    tracer.patch(fsutil, "parquet_file", timed_open)
    tracer.patch(pipeline, "pq", _ModuleProxy(pq, ParquetWriter=timed_writer))
    tracer.patch(pipeline, "os", _ModuleProxy(
        os, replace=tracer.wrap("task.write", os.replace)))
    tracer.patch_fn(pipeline, "_encode_one_batch", "task.encode")
    tracer.patch_fn(pipeline, "encode_column", "encode.column",
                    lambda a, out: {"kind": out[0]})
    wall = 0.0
    try:
        fn = pipeline.make_encode_files_fn(0, wave_dir)
        for f in files:
            batch = pa.RecordBatch.from_pydict({"path": [f]})
            with tracer.span("task") as s:
                for out in fn(iter([batch])):
                    err = out.column("error")[0].as_py()
                    if err is not None:
                        raise RuntimeError(f"replayed encode failed: {err}")
            wall += s[2] - s[1]
    finally:
        tracer.unpatch()
    return wall


def replay_verify(tracer: Tracer, pairs: list[tuple[str, str]]) -> float:
    """Run the verify task entry point over (source, chunk file) pairs."""
    from embulk_input_parquet_hadoop_spark.plans import verify
    real_src = verify._source_batches
    tracer.patch(verify, "_source_batches", lambda *a, **k: tracer.wrap_iter(
        "verify.source_read", real_src(*a, **k)))
    tracer.patch_fn(verify, "decode_column", "verify.decode")
    wall = 0.0
    try:
        fn = verify.make_verify_files_fn()
        for src, chk in pairs:
            batch = pa.RecordBatch.from_pydict({"source_file": [src],
                                                "chunk_file": [chk]})
            with tracer.span("verify.task") as s:
                for out in fn(iter([batch])):
                    row = out.to_pylist()[0]
                    if row["err"] or row["mismatch_chunks"]:
                        raise RuntimeError(f"replayed verify failed: {row}")
            wall += s[2] - s[1]
    finally:
        tracer.unpatch()
    return wall


def replay_decode(tracer: Tracer, chunk_files: list[str],
                  scan_columns: tuple[str, ...]) -> int:
    """Decode every column of every chunk with ``decode_column``; returns
    the Arrow bytes the scan's columns decode to (what ``decode_chunks``
    hands to Spark)."""
    from embulk_input_parquet_hadoop_spark.operators import encode as enc
    tracer.patch_fn(enc, "_decompress", "decode.zstd")
    arrow_bytes = 0
    try:
        for path in chunk_files:
            pf = pq.ParquetFile(path)
            for b in pf.iter_batches(batch_size=32, columns=["cols", "blobs"],
                                     use_threads=False):
                for cols, blobs in zip(b.column("cols").to_pylist(),
                                       b.column("blobs").to_pylist()):
                    for c, blob in zip(cols, blobs):
                        with tracer.span("decode.column",
                                         kind=c["kind"], col=c["name"]):
                            arr = enc.decode_column(c["kind"], blob)
                        if c["name"] in scan_columns:
                            arrow_bytes += arr.nbytes
    finally:
        tracer.unpatch()
    return arrow_bytes
