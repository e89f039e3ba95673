"""``tsdb_write``: one closed-loop client drives the reference surface
over HTTP — keyed batch insert, update and delete beside the six query
shapes — against an in-process ``server.make_server(engine, port=0)``.

The client sends its next request only after the reply, over one
keep-alive connection. Every request is drawn from ``random.Random(seed)``.
After the timed loop the op log is replayed on a DuckDB mirror of the
table and every response is compared with the mirror's."""

from __future__ import annotations

import http.client
import json
import math
import os
import random
import threading
import time

from perfbench import common

#: Fixture rows: ``sources/synth.synth_events`` projected to
#: (timestamp, tag, value) over its fixed 30-day window.
N_ROWS = 20_000
N_DAYS = 30
DAY_MS = 86_400_000
BATCH = 50
#: Commit-count ceiling for auto-compaction on the benchmark's table.
#: The program's default (16) needs ~17 writes per compaction, several
#: times the writes a run can afford; at 2 every second write compacts.
COMPACT_AFTER = 2
AGGS = ("count", "sum", "avg", "min", "max")
#: The six reference query shapes.
SHAPES = (
    "range_group_tag",
    "range_group_ts",
    "tag_range_limit",
    "ts_point",
    "only_agg",
    "raw_range",
)


def fixture_df(spark, n_rows: int):
    from pyspark.sql import functions as F

    from timeseries_db_spark.sources.synth import synth_events

    # (timestamp, tag) must be unique: the rare colliding events keep
    # their smallest value, so the table is a pure function of n_rows
    return (
        synth_events(spark, n_rows)
        .groupBy(
            F.expr("unix_millis(ts)").alias("timestamp"),
            F.col("event_type").alias("tag"),
        )
        .agg(F.min("value").alias("value"))
    )


class Model:
    """The generator's view of the live keys, per day — enough to draw
    valid writes and queries that hit data."""

    def __init__(self, rows, t0: int):
        self.t0 = t0
        self.days: dict[int, set[tuple[int, str]]] = {d: set() for d in range(N_DAYS)}
        for ts, tag in rows:
            self.days[self.day(ts)].add((ts, tag))
        self.tags = sorted({tag for keys in self.days.values() for _, tag in keys})

    def day(self, ts: int) -> int:
        return (ts - self.t0) // DAY_MS

    def day_start(self, d: int) -> int:
        return self.t0 + d * DAY_MS


class OpGen:
    """Seeded op stream. A pass inserts a batch of new keys into one
    live day, updates and deletes existing keys of two others, and
    queries the touched days: range + groupBy=tag with each aggregate,
    and each other shape once. Distinct days make every write add one
    live commit, so with :data:`COMPACT_AFTER` at 2 every second write
    triggers auto-compaction."""

    def __init__(self, model: Model, seed: int):
        self.m = model
        self.rng = random.Random(seed)

    def _value(self) -> float:
        return round(self.rng.uniform(0.0, 100.0), 2)

    def _sample(self, d: int) -> list[tuple[int, str]]:
        return self.rng.sample(sorted(self.m.days[d]), BATCH)

    def insert(self, d: int) -> dict:
        rows, taken = [], set()
        while len(rows) < BATCH:
            key = (
                self.m.day_start(d) + self.rng.randrange(DAY_MS),
                self.rng.choice(self.m.tags),
            )
            if key in self.m.days[d] or key in taken:
                continue
            taken.add(key)
            rows.append({"timestamp": key[0], "tag": key[1], "value": self._value()})
        self.m.days[d] |= taken
        return {"kind": "insert", "method": "POST", "path": "/timeseries", "body": rows}

    def update(self, d: int) -> dict:
        body = [
            {"timestamp": ts, "tag": tag, "value": self._value()}
            for ts, tag in self._sample(d)
        ]
        return {"kind": "update", "method": "PUT", "path": "/timeseries", "body": body}

    def delete(self, d: int) -> dict:
        keys = self._sample(d)
        self.m.days[d] -= set(keys)
        body = [{"timestamp": ts, "tag": tag} for ts, tag in keys]
        return {"kind": "delete", "method": "DELETE", "path": "/timeseries", "body": body}

    def query(self, shape: str, days, agg: str | None = None) -> dict:
        r = self.rng
        d = r.choice(days)
        lo = self.m.day_start(d) + r.randrange(DAY_MS // 2)
        hi = lo + r.randrange(DAY_MS // 2, 2 * DAY_MS)
        agg = agg or r.choice(AGGS)
        if shape == "range_group_tag":
            q = {"ge": lo, "lt": hi, "aggFunc": agg, "groupBy": "tag"}
        elif shape == "range_group_ts":
            q = {
                "gt": lo, "le": hi, "aggFunc": agg, "groupBy": "timestamp",
                "sort": "desc", "limit": 20,
            }
        elif shape == "tag_range_limit":
            q = {
                "tagEq": r.choice(self.m.tags), "ge": lo, "lt": hi,
                "sort": r.choice(("asc", "desc")), "limit": 20,
            }
        elif shape == "ts_point":
            q = {"tsEq": r.choice(sorted(self.m.days[d]))[0]}
        elif shape == "only_agg":
            q = {"aggFunc": agg}
        else:  # raw_range: half an hour of raw rows
            q = {"ge": lo, "lt": lo + 1_800_000}
        return {
            "kind": "query", "shape": shape, "method": "POST",
            "path": "/timeseries/query", "body": q,
        }

    def next_pass(self):
        """One pass, generated lazily so the model never runs ahead of
        the ops sent: each write is followed by three or four queries."""
        a, b, c = days = self.rng.sample(range(N_DAYS), 3)
        # range + groupBy=tag once per aggregate, between the other shapes
        shapes = []
        for agg, shape in zip(self.rng.sample(AGGS, len(AGGS)), SHAPES[1:]):
            shapes += [("range_group_tag", agg), (shape, None)]
        for write, day, queries in (
            (self.insert, a, shapes[:3]),
            (self.update, b, shapes[3:6]),
            (self.delete, c, shapes[6:]),
        ):
            yield write(day)
            for shape, agg in queries:
                yield self.query(shape, days, agg)

    def ops(self):
        while True:
            yield from self.next_pass()


#: Operations in one pass: three writes and ten queries.
PASS_OPS = 13


def op_kind(op: dict) -> str:
    return op.get("shape") or op["kind"]


class Client:
    """One keep-alive HTTP/1.1 connection; a request is failed when it
    raises or answers with a status other than 200."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def send(self, op: dict, rid: str) -> None:
        from perfbench.spans import REQUEST_HEADER

        body = json.dumps(op["body"]).encode()
        t0 = time.perf_counter()
        try:
            self.conn.request(
                op["method"], op["path"], body=body,
                headers={"Content-Type": "application/json", REQUEST_HEADER: rid},
            )
            resp = self.conn.getresponse()
            text = resp.read().decode()
            op["status"] = resp.status
            op["response"] = json.loads(text) if resp.status == 200 else text
        except Exception as exc:  # noqa: BLE001 — an op failure, not a crash
            op["status"] = None
            op["response"] = repr(exc)
            self.conn.close()
        op["ms"] = (time.perf_counter() - t0) * 1e3
        op["rid"] = rid

    def close(self) -> None:
        self.conn.close()


# ------------------------------------------------------------ the oracle


def _where(q: dict) -> str:
    preds = []
    for key, op in (("gt", ">"), ("ge", ">="), ("lt", "<"), ("le", "<="), ("tsEq", "=")):
        if key in q:
            preds.append(f'"timestamp" {op} {int(q[key])}')
    if "tagEq" in q:
        preds.append("tag = '" + q["tagEq"].replace("'", "''") + "'")
    return " WHERE " + " AND ".join(preds) if preds else ""


def oracle_answer(con, q: dict):
    """The reference's ``QueryR`` for ``q``, computed by DuckDB."""
    where = _where(q)
    d = "DESC" if q.get("sort") == "desc" else "ASC"
    limit = f" LIMIT {int(q['limit'])}" if "limit" in q else ""
    agg = q.get("aggFunc")
    if agg is None:
        rows = con.execute(
            f'SELECT "timestamp", tag, value FROM t{where} '
            f'ORDER BY "timestamp" {d}, tag {d}, value {d}{limit}'
        ).fetchall()
        return [{"timestamp": ts, "tag": tag, "value": v} for ts, tag, v in rows]
    expr = "CAST(count(*) AS DOUBLE)" if agg == "count" else f"{agg}(value)"
    if "groupBy" not in q:
        return {"result": con.execute(f"SELECT {expr} FROM t{where}").fetchone()[0]}
    key = "tag" if q["groupBy"] == "tag" else '"timestamp"'
    rows = con.execute(
        f"SELECT {key} AS grp, {expr} FROM t{where} GROUP BY {key} "
        f"ORDER BY grp {d}{limit}"
    ).fetchall()
    return [{"group": g, "result": r} for g, r in rows]


def same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def check_ops(fixture_pdf, ops: list[dict]) -> list[str]:
    """Replay ``ops`` in order on a DuckDB mirror; return one message per
    response that differs from the mirror's (status or body)."""
    import duckdb

    con = duckdb.connect()
    con.register("fixture", fixture_pdf)
    con.execute(
        'CREATE TABLE t AS SELECT CAST("timestamp" AS BIGINT) AS "timestamp", '
        "CAST(tag AS VARCHAR) AS tag, CAST(value AS DOUBLE) AS value FROM fixture"
    )
    con.unregister("fixture")
    bad = []
    for i, op in enumerate(ops):
        if op["kind"] == "query":
            want = oracle_answer(con, op["body"])
            if op["status"] != 200 or not same(op["response"], want):
                got = str(op["response"])[:200]
                bad.append(f"op {i} {op['shape']} {op['body']}: got {got}")
            continue
        if op["status"] != 200:
            bad.append(f"op {i} {op['kind']}: status {op['status']} {str(op['response'])[:200]}")
            continue
        for row in op["body"]:
            ts, tag = int(row["timestamp"]), row["tag"]
            if op["kind"] == "insert":
                con.execute("INSERT INTO t VALUES (?, ?, ?)", [ts, tag, row["value"]])
            elif op["kind"] == "update":
                con.execute(
                    'UPDATE t SET value = ? WHERE "timestamp" = ? AND tag = ?',
                    [row["value"], ts, tag],
                )
            else:
                con.execute('DELETE FROM t WHERE "timestamp" = ? AND tag = ?', [ts, tag])
    con.close()
    return bad


# ------------------------------------------------------------ the run


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def row_bytes(tag: str) -> int:
    """Logical size of one row: two 8-byte numbers and the tag's bytes."""
    return 16 + len(tag.encode())


def run(spark, run_dir: str, seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    from timeseries_db_spark.engine import TsdbEngine
    from timeseries_db_spark.operators.dml import TsTable
    from timeseries_db_spark.server import make_server
    from timeseries_db_spark.sources.synth import EVENTS_T0_MS

    session_s = time.perf_counter() - t_start
    path = os.path.join(run_dir, "table")
    t0 = time.perf_counter()
    src = fixture_df(spark, N_ROWS).toPandas()
    TsTable.create(
        spark, path, spark.createDataFrame(src), auto_compact_commits=COMPACT_AFTER
    )
    load_s = time.perf_counter() - t0
    engine = TsdbEngine(spark, path)
    engine.table = TsTable(spark, path, auto_compact_commits=COMPACT_AFTER)

    model = Model(zip(src["timestamp"].tolist(), src["tag"].tolist()), EVENTS_T0_MS)
    gen = OpGen(model, seed)
    httpd = make_server(engine, port=0)
    server = threading.Thread(target=httpd.serve_forever, daemon=True)
    server.start()
    client = Client(httpd.server_address[1])

    cpu = common.CpuClock(spark)
    tracer = counter = seen = None
    if trace:
        from perfbench.spans import Tracer, install_tsdb

        tracer = Tracer()
        counter, probe_counter = common.JobCounter(spark), common.JobCounter(spark)
        seen = install_tsdb(tracer, probe_counter)

    ops: list[dict] = []
    extra = {"live_commits": [], "write_bytes": 0, "write_logical": 0, "counts": []}

    def send(op: dict) -> None:
        before = None
        if trace and op["kind"] == "query":
            extra["live_commits"].append(engine.table.live_commit_count())
        if trace and op["kind"] != "query":
            before = dir_bytes(path)
        if trace:
            counter.take()
        cpu0 = cpu()
        client.send(op, rid=str(len(ops)))
        op["cpu_ms"] = (cpu() - cpu0) * 1e3
        if trace:
            extra["counts"].append((op["kind"], counter.take()))
        if before is not None and op["status"] == 200:
            extra["write_bytes"] += max(0, dir_bytes(path) - before)
            extra["write_logical"] += sum(row_bytes(r["tag"]) for r in op["body"])
        ops.append(op)

    setup_s = time.perf_counter() - t_start

    # at least one whole pass, then op by op until ``seconds`` are up; the
    # loop's time is the sum of its requests (closed loop), so the traced
    # run's bookkeeping between requests does not count
    stream = gen.ops()
    t_loop = time.perf_counter()
    while len(ops) < PASS_OPS or time.perf_counter() - t_loop < seconds:
        send(next(stream))

    client.close()
    httpd.shutdown()
    server.join(timeout=30)
    httpd.server_close()
    if tracer is not None:
        tracer.restore()

    lat: dict[str, list[float]] = {}
    cpu_ms: dict[str, list[float]] = {}
    for o in ops:
        lat.setdefault(op_kind(o), []).append(o["ms"])
        cpu_ms.setdefault(op_kind(o), []).append(o["cpu_ms"])
    # one pass with every op at its median in this run
    template = [op_kind(o) for o in ops[:PASS_OPS]]
    queries = [k for k in template if k in SHAPES]
    q_ms = [o["ms"] for o in ops if o["kind"] == "query"]
    w_ms = [o["ms"] for o in ops if o["kind"] != "query"]
    live = sum(len(keys) for keys in model.days.values())
    live_bytes = sum(row_bytes(tag) for keys in model.days.values() for _, tag in keys)
    failed = sum(1 for o in ops if o["status"] != 200)
    out = {
        "attempted": len(ops),
        "failed": failed,
        "check": lambda: check_ops(src, ops),
        "metrics": {
            "setup_s": setup_s,
            "pass_cpu_s": sum(common.median(cpu_ms[k]) for k in template) / 1e3,
            "query_cpu_ms": sum(common.median(cpu_ms[k]) for k in queries) / len(queries),
            "pass_s": sum(common.median(lat[k]) for k in template) / 1e3,
            "query_p50_ms": common.median(q_ms),
        },
        "info": {
            "n_queries": len(q_ms),
            "n_writes": len(w_ms),
            "loop_s": sum(o["ms"] for o in ops) / 1e3,
            "median_ms_by_kind": {k: common.median(v) for k, v in lat.items()},
            "write_p50_ms": common.median(w_ms),
            "write_p75_ms": common.quantile(w_ms, 0.75),
            "space_amp": dir_bytes(path) / live_bytes,
            "live_rows": live,
            "failed_frac": failed / len(ops),
            "session_s": session_s,
            "fixture_load_s": load_s,
        },
    }
    if trace:
        out["layers"] = tsdb_layers(tracer, seen, extra, ops, session_s, load_s)
        out["tracer"] = tracer
        out["trace_cost_s"] = counter.drain_s + probe_counter.drain_s
    return out


def tsdb_layers(tracer, seen, extra, ops, session_s, load_s) -> dict:
    """Per-layer metrics of a traced run, from its spans and counts."""
    med = common.median
    by_rid: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_rid.setdefault(s["request_id"], []).append(s)
    kids = tracer.children()

    def dur(s):
        return (s["end"] - s["start"]) * 1e3

    def first(spans, name):
        return next((s for s in spans if s["name"] == name), None)

    def nested(span, name):
        return sum(dur(c) for c in kids.get(span["id"], []) if c["name"] == name)

    server_self, eng_query, eng_collect, eng_wself = [], [], [], []
    for op in ops:
        spans = by_rid.get(op["rid"], [])
        if op["kind"] == "query":
            top, inner = first(spans, "engine.query_json"), first(spans, "engine.query")
            if top and inner:
                eng_query.append(dur(inner))
                eng_collect.append(dur(top) - dur(inner))
        else:
            top = first(spans, f"engine.{op['kind']}")
            if top:
                eng_wself.append(dur(top) - nested(top, f"dml.{op['kind']}"))
        if top:
            server_self.append(op["ms"] - dur(top))

    spans = [s for op in ops for s in by_rid.get(op["rid"], [])]

    def named(name):
        return [s for s in spans if s["name"] == name]

    probe = []
    for s in named("compiler.run_query"):
        probe.append(dur(s) - nested(s, "compiler.compile_query"))
    reads = [
        dur(s) for s in named("dml.read")
        if not any(p["name"] == "dml.compact" for p in spans if p["id"] == s["parent"])
    ]
    kept = sum(k for k, _ in seen["read_parts"])
    present = sum(p for _, p in seen["read_parts"])

    def write_self(kind):
        return med([dur(s) - nested(s, "dml.compact") for s in named(f"dml.{kind}")])

    counts = extra["counts"]
    q_counts = [c for k, c in counts if k == "query"]
    w_counts = [c for k, c in counts if k != "query"]
    all_counts = [c for _, c in counts]
    return {
        "server.self_ms": med(server_self),
        "engine.query_ms": med(eng_query),
        "engine.collect_ms": med(eng_collect),
        "engine.write_self_ms": med(eng_wself),
        "compiler.compile_ms": med([dur(s) for s in named("compiler.compile_query")]),
        "compiler.probe_ms": med(probe),
        "compiler.probe_jobs": sum(seen["probe_jobs"]) / max(1, len(seen["probe_jobs"])),
        "dml.read_ms": med(reads),
        "dml.prune_frac": 1.0 - kept / present if present else 0.0,
        "dml.insert_ms": write_self("insert"),
        "dml.update_ms": write_self("update"),
        "dml.delete_ms": write_self("delete"),
        "dml.compact_ms": med([dur(s) for s in named("dml.compact")]),
        "dml.compactions": len(named("dml.compact")),
        "dml.live_commits_p50": med(extra["live_commits"]),
        "dml.write_amp": extra["write_bytes"] / max(1, extra["write_logical"]),
        "spark.jobs_per_query": _mean(c["jobs"] for c in q_counts),
        "spark.jobs_per_write": _mean(c["jobs"] for c in w_counts),
        "spark.stages_per_op": _mean(c["stages"] for c in all_counts),
        "spark.tasks_per_op": _mean(c["tasks"] for c in all_counts),
        "session.start_s": session_s,
        "fixture.load_s": load_s,
    }


def _mean(values) -> float:
    xs = list(values)
    return sum(xs) / len(xs) if xs else 0.0
