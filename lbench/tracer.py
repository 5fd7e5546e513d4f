"""Spans around the program's public functions, recorded from the
benchmark's side by wrapping module attributes and class methods.

Only traced runs install the wrappers. Every op runs inside a root span
of layer ``client`` (the benchmark's own code: building inputs for the
call and collecting its Arrow result), so the layers' self times of one
op sum to the op's traced latency. Spans are kept in memory and turned
into metrics when the run ends."""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: layer -> public callables it owns, as "module:attr" or "module:Class.method"
LAYERS = {
    "session": ["lance_spark.session:get_spark"],
    "write": [
        "lance_spark.write:write_dataset",
        "lance_spark.write:write_fragments",
        "lance_spark.write:commit_fragments",
    ],
    "manifest": [
        "lance_spark.manifest:commit",
        "lance_spark.manifest:read_manifest",
        "lance_spark.manifest:latest_version",
    ],
    "mutation": [
        "lance_spark.mutation:delete",
        "lance_spark.mutation:MergeInsertBuilder.execute",
    ],
    "maintenance": ["lance_spark.maintenance:compact_files"],
    "dataset": [
        "lance_spark.dataset:LanceDataset.__init__",
        "lance_spark.dataset:LanceDataset.scanner",
        "lance_spark.dataset:LanceDataset.take",
        "lance_spark.dataset:LanceDataset.sql",
        "lance_spark.dataset:LanceDataset.checkout_version",
        "lance_spark.dataset:LanceDataset.count_rows",
    ],
    "scanner": [
        "lance_spark.scanner:LanceScanner.to_table",
        "lance_spark.scanner:LanceScanner.to_batches",
    ],
    "scalar": [
        "lance_spark.indexes.scalar:scan_with_index",
        "lance_spark.indexes.scalar:query_index",
    ],
    "vector": [
        "lance_spark.indexes.vector:create_dataset_index",
        "lance_spark.indexes.vector:train_kmeans",
        "lance_spark.indexes.vector:train_pq_codebooks",
        "lance_spark.indexes.vector:dataset_nearest",
        "lance_spark.indexes.vector:ann_search",
        "lance_spark.indexes.vector:probe_partitions",
    ],
    "inverted": [
        "lance_spark.indexes.inverted:create_inverted_index",
        "lance_spark.indexes.inverted:match_query",
    ],
}


#: spans that keep their call's arguments and result for counters
CAPTURE = {"write_fragments", "query_index", "probe_partitions"}


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self):
        self.recording = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._tid = threading.get_ident()
        self.op: int | None = None
        #: (op, ScanStatistics) for every scan the scanner layer meters
        self.scan_stats: list = []

    # ------------------------------------------------------------ spans
    def _open(self, layer: str, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), parent, self.op, layer, name, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span.sid)
        return span

    def _close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        popped = self._stack.pop()
        if popped != span.sid:
            raise RuntimeError(f"span stack out of order: {popped} != {span.sid}")

    @contextmanager
    def span(self, layer: str, name: str, op: int | None = None):
        """A span the benchmark opens itself (an op's root, a set-up
        phase); ``op`` tags every span opened inside it."""
        if op is not None:
            self.op = op
        span = self._open(layer, name) if self.recording else None
        try:
            yield span
        finally:
            if span is not None:
                self._close(span)
            if op is not None:
                self.op = None

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if (
                not tracer.recording
                or tracer.op is None
                or threading.get_ident() != tracer._tid
            ):
                return fn(*args, **kwargs)
            span = tracer._open(layer, name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._close(span)
            if name in CAPTURE:
                span.info["args"] = (args, kwargs)
                span.info["result"] = result
            elif name == "LanceScanner.to_table":
                span.info["rows"] = result.num_rows
            return result

        return wrapper

    # ------------------------------------------------------------ install
    def install(self) -> None:
        """Wrap every callable in LAYERS. Module-level functions are
        replaced in every loaded ``lance_spark`` module that bound them by
        name, so ``from x import f`` call sites are traced too."""
        for layer, targets in LAYERS.items():
            for target in targets:
                mod_name, attr = target.split(":")
                mod = importlib.import_module(mod_name)
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    fn = cls.__dict__[meth]
                    setattr(cls, meth, self._wrap(layer, attr, fn))
                    continue
                fn = getattr(mod, attr)
                wrapped = self._wrap(layer, attr, fn)
                for m in list(sys.modules.values()):
                    name = getattr(m, "__name__", "") or ""
                    if name.split(".")[0] != "lance_spark":
                        continue
                    for k, v in list(vars(m).items()):
                        if v is fn:
                            setattr(m, k, wrapped)

        self._meter_scans()

    def _meter_scans(self) -> None:
        """Record every ScanStatistics the scanner harvests while the
        tracer records (harvesting itself is switched on per phase with
        ``lance_spark.scanner.enable_io_counters``)."""
        from lance_spark import scanner

        tracer = self
        base = scanner.ScanStatistics

        class RecordedScanStatistics(base):
            def __init__(self, *args, **kwargs):
                super().__init__(*args, **kwargs)
                if tracer.recording and tracer.op is not None:
                    tracer.scan_stats.append((tracer.op, self))

        RecordedScanStatistics.__name__ = base.__name__
        scanner.ScanStatistics = RecordedScanStatistics
