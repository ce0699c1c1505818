"""Span tracer for the traced run (``--trace 1``).

Spans are taken from outside the engine: ``Tracer.install`` wraps the
functions at each module boundary, patched where the caller looks them up,
and ``uninstall`` restores them. A span is (layer, name, start, end,
parent); a layer's self time is its span minus its child spans. Job counts
come from job groups set by the wrappers and read back through Spark's
``statusTracker``. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from urllib.parse import parse_qs, urlparse

from stock_chart_kafka_streams_spark.operators import candles as candles_mod
from stock_chart_kafka_streams_spark.plans import query_api
from stock_chart_kafka_streams_spark.sources import trades as trades_mod
from stock_chart_kafka_streams_spark.streaming import pipeline, sink

# (module object, attribute, layer). Sink functions the cascade hook imports
# at call time are patched on the sink module; the two that pipeline.py
# binds at import time are patched on pipeline.
PATCHES = [
    (pipeline, "upsert_candles", "streaming.sink"),
    (pipeline, "minute_partition_dates", "streaming.sink"),
    (pipeline, "rollup_candles", "operators.candles"),
    (sink, "read_partition_dirs", "streaming.sink"),
    (sink, "recover_publish_crash", "streaming.sink"),
    (sink, "_publish_partitions", "streaming.sink"),
    (sink, "_extend_symbols_sidecar", "streaming.sink"),
    (sink, "_bump_table_version", "streaming.sink"),
    (sink, "write_candles", "streaming.sink"),
    (candles_mod, "multi_frame_candles", "operators.candles"),
    (trades_mod, "read_trades_json_stream", "sources"),
    (trades_mod, "read_trades_parquet", "sources"),
]
# CandleStore methods the HTTP handler calls.
STORE_METHODS = ["get_candles", "recent_rows", "point_row", "recent", "symbol_names"]


class Span:
    __slots__ = ("id", "parent", "layer", "name", "t0", "t1", "attrs")

    def __init__(self, id_, parent, layer, name, t0):
        self.id, self.parent, self.layer, self.name = id_, parent, layer, name
        self.t0 = self.t1 = t0
        self.attrs: dict = {}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list = []
        self.overhead_s = 0.0  # bookkeeping time spent inside wrappers

    # -- spans -----------------------------------------------------------
    def _open(self, layer, name) -> Span:
        stack = self._local.__dict__.setdefault("stack", [])
        span = Span(next(self._ids), stack[-1].id if stack else None, layer, name,
                    time.perf_counter())
        stack.append(span)
        return span

    def _close(self, span: Span, bookkeeping_s: float) -> None:
        self._local.stack.pop()
        with self._lock:
            self.spans.append(span)
            self.overhead_s += bookkeeping_s

    def count_jobs(self) -> None:
        """Jobs and failed jobs per job group, read back once the workload
        has ended so the lookups add nothing to the traced spans."""
        st = self.sc.statusTracker()
        for span in self.spans:
            group = span.attrs.get("group")
            if group is None:
                continue
            ids = st.getJobIdsForGroup(group)
            infos = [st.getJobInfo(j) for j in ids]
            span.attrs["jobs"] = len(ids)
            span.attrs["failed_jobs"] = sum(i is not None and i.status == "FAILED" for i in infos)

    def _wrap(self, fn, layer: str, name: str, group_prefix: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            b0 = time.perf_counter()
            span = tracer._open(layer, name)
            if group_prefix is not None and span.parent is None:
                span.attrs["group"] = group = f"perfbench-{group_prefix}-{span.id}"
                tracer.sc.setJobGroup(group, name, False)
                if group_prefix == "read":
                    span.attrs["req"] = _request_id()
            b1 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span.t1 = time.perf_counter()
                tracer._close(span, b1 - b0)

        return wrapper

    def _wrap_hook_factory(self, factory):
        tracer = self

        @functools.wraps(factory)
        def cascade_upsert(*args, **kwargs):
            return tracer._wrap(factory(*args, **kwargs), "streaming.pipeline", "cascade_hook",
                                "trigger")

        return cascade_upsert

    # -- install / uninstall ----------------------------------------------
    def install(self) -> None:
        for mod, attr, layer in PATCHES:
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, layer, attr))
        self._saved.append((pipeline, "cascade_upsert", pipeline.cascade_upsert))
        pipeline.cascade_upsert = self._wrap_hook_factory(pipeline.cascade_upsert)
        store = query_api.CandleStore
        for attr in STORE_METHODS:
            fn = store.__dict__[attr]
            self._saved.append((store, attr, fn))
            setattr(store, attr, self._wrap(fn, "plans.query_api", attr, "read"))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, fn = self._saved.pop()
            setattr(mod, attr, fn)

    # -- results -----------------------------------------------------------
    def children_s(self) -> dict[int, float]:
        """Per span id, the time its direct children cover (children of
        one span run on its thread, one at a time, so they never overlap)."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] = out.get(s.parent, 0.0) + (s.t1 - s.t0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps(extra) + "\n")
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "parent": s.parent, "layer": s.layer,
                                    "name": s.name, "t0": s.t0, "t1": s.t1, **s.attrs}) + "\n")


def _request_id():
    """The ``pbid`` query parameter of the HTTP request being handled on
    this thread, found on the handler object up the call stack."""
    f = sys._getframe(2)
    while f is not None:
        h = f.f_locals.get("self")
        if h is not None and hasattr(h, "requestline") and hasattr(h, "path"):
            return parse_qs(urlparse(h.path).query).get("pbid", [None])[0]
        f = f.f_back
    return None
