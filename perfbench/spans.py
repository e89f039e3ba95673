"""Span recording for the traced run.

Wrappers are installed from here around the public entry points of each
layer — nothing in the program is edited. A span records name, start,
end, parent and request id; spans are kept in memory and written out
when the run ends. Streaming progress comes from a
``StreamingQueryListener`` registered by the benchmark."""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from datetime import datetime

from perfbench.common import median

#: HTTP header carrying the client's request id into the server thread.
REQUEST_HEADER = "X-Bench-Request"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, request_id=None) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request_id is None and parent is not None:
            request_id = parent["request_id"]
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request_id": request_id,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        return rec

    def end(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(rec)

    def wrap(self, fn, name: str):
        """``fn`` inside a span named ``name``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            rec = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(rec)

        return wrapper

    def patch(self, owner, attr: str, name: str, make=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper — or with
        ``make(original)`` — until :meth:`restore` puts it back."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig) if make else self.wrap(orig, name))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---------------------------------------------------------- analysis

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def self_ms_by_layer(self) -> dict[str, float]:
        """Total self time per layer (the name's prefix before the first
        dot): each span's duration minus the time its children cover.
        Children of one span run on its thread, one after another, so
        their durations do not overlap."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            child = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - child) * 1e3
        return out

    def span_cost_s(self, n: int = 2000) -> float:
        """Measured cost of recording one span around a no-op call."""

        def noop():
            return None

        box = type("Box", (), {"f": staticmethod(noop)})
        probe = Tracer()
        probe.patch(box, "f", "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            box.f()
        wrapped = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        return max(0.0, (wrapped - (time.perf_counter() - t0)) / n)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["id"])
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f)


def install_tsdb(tracer: Tracer, counter) -> dict:
    """Wrap the server request, the engine routes, the compiler and the
    TsTable read/write/compact methods. ``counter`` (a JobCounter) also
    counts the jobs run inside ``run_query`` — the presence probes.
    Returns a dict the wrappers fill: probe job counts and, per
    ``TsTable.read``, the partitions kept and the partitions present."""
    from timeseries_db_spark import engine, server
    from timeseries_db_spark.operators import dml
    from timeseries_db_spark.plans import compiler

    seen: dict = {"probe_jobs": [], "read_parts": []}

    def request(orig):
        @functools.wraps(orig)
        def wrapper(handler, *args, **kwargs):
            rid = handler.headers.get(REQUEST_HEADER)
            rec = tracer.begin("server.request", request_id=rid)
            try:
                return orig(handler, *args, **kwargs)
            finally:
                tracer.end(rec)

        return wrapper

    for verb in ("do_POST", "do_PUT", "do_DELETE"):
        tracer.patch(server._Handler, verb, "server.request", request)
    for route in ("query_json", "query", "insert", "update", "delete"):
        tracer.patch(engine.TsdbEngine, route, f"engine.{route}")
    for op in ("insert", "update", "delete", "compact"):
        tracer.patch(dml.TsTable, op, f"dml.{op}")

    def read(orig):
        @functools.wraps(orig)
        def wrapper(table, *args, **kwargs):
            rec = tracer.begin("dml.read")
            try:
                df = orig(table, *args, **kwargs)
            finally:
                tracer.end(rec)
            # partitions the read kept vs the partitions the manifest
            # holds; outside the span, so it does not inflate dml.read
            present = len(table._manifest()["partitions"])
            kept = {
                p.split("/dt=", 1)[1].split("/", 1)[0]
                for p in df.inputFiles()
                if "/dt=" in p
            }
            seen["read_parts"].append((len(kept), present))
            return df

        return wrapper

    tracer.patch(dml.TsTable, "read", "dml.read", read)

    def run_query(orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            counter.take()
            rec = tracer.begin("compiler.run_query")
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(rec)
                seen["probe_jobs"].append(counter.take()["jobs"])

        return wrapper

    tracer.patch(engine, "run_query", "compiler.run_query", run_query)
    tracer.patch(engine, "compile_query", "compiler.compile_query")
    tracer.patch(compiler, "compile_query", "compiler.compile_query")
    return seen


def install_analytics(tracer: Tracer, queries: dict, spark) -> None:
    """Wrap every registry callable in ``queries`` (in place) and the
    DataFrame result transfers."""
    DataFrame = type(spark.range(0))  # the concrete class (classic Spark)

    for name, fn in queries.items():
        queries[name] = tracer.wrap(fn, f"registry.{name}")
    tracer.patch(DataFrame, "toPandas", "collect.toPandas")
    tracer.patch(DataFrame, "collect", "collect.collect")


def _epoch_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stream_listener():
    """A StreamingQueryListener that keeps every query start and every
    executed micro-batch (a progress event with no ``addBatch`` phase
    reports an idle trigger, which ran no batch)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started: dict[str, float] = {}
            self.batches: dict[tuple[str, int], dict] = {}

        def onQueryStarted(self, event):
            self.started[str(event.runId)] = _epoch_s(event.timestamp)

        def onQueryProgress(self, event):
            p = event.progress
            if "addBatch" not in p.durationMs:
                return
            self.batches[(str(p.runId), p.batchId)] = {
                "start": _epoch_s(p.timestamp),
                "duration_ms": dict(p.durationMs),
                "rows": p.numInputRows,
            }

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def reset(self):
            self.started.clear()
            self.batches.clear()

        def summary(self, wall_s: float) -> dict:
            """Per-trigger phases of everything since the last reset.
            ``startup_s`` sums, per query, the time from its start to its
            first batch; ``idle_s`` is the part of ``wall_s`` spent in
            neither a startup nor a trigger."""
            batches = list(self.batches.values())
            first: dict[str, float] = {}
            for (run_id, _), b in self.batches.items():
                first[run_id] = min(first.get(run_id, b["start"]), b["start"])
            startup = sum(
                max(0.0, first[r] - t) for r, t in self.started.items() if r in first
            )
            trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]

            def med(key):
                return median([b["duration_ms"].get(key, 0) for b in batches])

            return {
                "stream.queries": len(self.started),
                "stream.triggers": len(batches),
                "stream.startup_s": startup,
                "stream.trigger_ms": med("triggerExecution"),
                "stream.add_batch_ms": med("addBatch"),
                "stream.planning_ms": med("queryPlanning"),
                "stream.wal_ms": med("walCommit"),
                "stream.idle_s": max(0.0, wall_s - startup - sum(trig) / 1e3),
                "stream.input_rows": sum(b["rows"] for b in batches),
            }

    return Listener()
