"""``analytics_sweep``: registry queries built, executed and collected
with ``toPandas()`` over the committed sf0.001 gate tables — the path
the operators, sources and Arrow transfer serve, with server, engine and
dml bypassed. One streaming entry rides along, so ``streaming/*`` runs
here too. The first pass calls each entry once in a fresh process, in
registry order — the one-shot gate shape — and is the warm-up; the timed
passes repeat it warm. The inputs are the fixed gate tables, so the seed
only labels the run. Every result, the first pass's included, is
compared with the entry's registry DuckDB oracle using the gate's
normalisation and hash (``debug.compare_legs``)."""

from __future__ import annotations

import time

from perfbench import common

#: Two headline entries (``bench.py``'s pinned list) — reference-surface
#: aggregation and the Arrow text kernels — plus the cheapest real
#: Structured Streaming entry. The other headline entries and
#: ``stream_ingest_dedup`` (~2 min per call on a 4-core box) do not fit
#: the benchmark's per-run time.
ENTRIES = (
    "agg_by_tag_all",
    "text_features",
    "stream_running_totals",
)
#: The first warm pass still pays JIT compilation started by the cold
#: one; with three or more, each entry's median comes from a later pass
#: however fast the host runs.
MIN_PASSES = 3


def oracle_frames(oracles: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{common.DATA_DIR}/{t}.parquet')"
        )
    out = {name: con.execute(oracles[name]).df() for name in ENTRIES}
    con.close()
    return out


def check(name: str, pdf, oracle_pdf) -> str | None:
    """None when ``pdf`` matches the oracle leg by leg, else a message."""
    from timeseries_db_spark.debug import compare_legs, leg_column

    col = leg_column(set(pdf.columns) & set(oracle_pdf.columns))
    bad = [r for r in compare_legs(pdf, oracle_pdf, col) if not r["hash_match"]]
    if not bad:
        return None
    return f"{name}: legs {[str(r['leg']) for r in bad]} differ from the oracle"


def run(spark, run_dir: str, seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    from timeseries_db_spark.registry import build_registry

    session_s = time.perf_counter() - t_start
    queries, oracles = build_registry()
    queries = {name: queries[name] for name in ENTRIES}
    calls: list[dict] = []
    cpu = common.CpuClock(spark)
    counter = listener = tracer = None

    def call(name: str) -> dict:
        rec = {"entry": name, "failed": False}
        if counter is not None:
            counter.take()
            listener.reset()
        cpu0 = cpu()
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, common.DATA_DIR)
            rec["build_s"] = time.perf_counter() - t0
            rec["pdf"] = df.toPandas()
        except Exception as exc:  # noqa: BLE001 — an op failure, not a crash
            rec["failed"] = True
            rec["error"] = repr(exc)[:300]
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = cpu() - cpu0
        if counter is not None and not rec["failed"]:
            done = counter.take()
            rec["jobs"], rec["stages"] = done["jobs"], done["stages"]
            rec["stream"] = listener.summary(rec["build_s"]) if listener.started else {}
        calls.append(rec)
        return rec

    # the first pass runs each entry once in a fresh process — the
    # one-shot gate shape, paying every first-call cost (JVM warm-up,
    # plan codegen, Python workers, cache builds). It is the warm-up:
    # its time is part of setup_s.
    t0 = time.perf_counter()
    for name in ENTRIES:
        call(name)
    cold_pass_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start

    if trace:
        from perfbench.spans import Tracer, install_analytics, stream_listener

        tracer = Tracer()
        counter = common.JobCounter(spark)
        listener = stream_listener()
        spark.streams.addListener(listener)
        install_analytics(tracer, queries, spark)

    # warm passes until ``seconds`` are up, at least MIN_PASSES
    timed: list[dict] = []
    t_loop = time.perf_counter()
    while len(timed) < MIN_PASSES * len(ENTRIES) or time.perf_counter() - t_loop < seconds:
        timed += [call(name) for name in ENTRIES]

    if tracer is not None:
        tracer.restore()
        spark.streams.removeListener(listener)

    def per_entry(key: str) -> list[float]:
        """Each entry's median ``key`` over its timed calls: one pass
        with every entry at its median in this run."""
        return [
            common.median([c[key] for c in timed if c["entry"] == name and not c["failed"]])
            for name in ENTRIES
        ]

    failed = sum(c["failed"] for c in calls)
    out = {
        "attempted": len(calls),
        "failed": failed,
        "check": lambda: check_calls(calls, oracles),
        "metrics": {
            "setup_s": setup_s,
            "pass_cpu_s": sum(per_entry("cpu_s")),
            "query_cpu_ms": sum(per_entry("cpu_s")) / len(ENTRIES) * 1e3,
            "pass_s": sum(per_entry("s")),
            "query_p50_ms": common.median([c["s"] * 1e3 for c in timed]),
        },
        "info": {
            "n_passes": len(timed) // len(ENTRIES),
            "loop_s": sum(c["s"] for c in timed),
            "cold_pass_s": cold_pass_s,
            "cold_entry_s": {c["entry"]: c["s"] for c in calls[: len(ENTRIES)]},
            "median_s_by_entry": dict(zip(ENTRIES, per_entry("s"))),
            "failed_frac": failed / len(calls),
            "session_s": session_s,
        },
    }
    if trace:
        out["layers"] = analytics_layers(timed, session_s)
        out["tracer"] = tracer
        out["trace_cost_s"] = counter.drain_s
    return out


def check_calls(calls: list[dict], oracles: dict) -> list[str]:
    """One message per call whose result differs from its oracle or
    that failed."""
    truth = oracle_frames(oracles)
    bad = []
    for c in calls:
        if c["failed"]:
            bad.append(f"{c['entry']}: {c['error']}")
            continue
        msg = check(c["entry"], c["pdf"], truth[c["entry"]])
        if msg:
            bad.append(msg)
    return bad


def analytics_layers(timed: list[dict], session_s: float) -> dict:
    """Per-layer metrics of a traced run, from its timed calls: per
    entry the median build time and the median time to execute the
    built plan and collect it (the call minus its build), and the jobs
    and stages of its first timed call."""
    ok = [c for c in timed if not c["failed"]]
    out = {
        "analytics.build_s": 0.0,
        "analytics.run_s": 0.0,
        "analytics.jobs": 0,
        "analytics.stages": 0,
    }
    for name in ENTRIES:
        mine = [c for c in ok if c["entry"] == name]
        if not mine:
            continue
        run_s = common.median([c["s"] - c["build_s"] for c in mine])
        out["analytics.build_s"] += common.median([c["build_s"] for c in mine])
        out["analytics.run_s"] += run_s
        out["analytics.jobs"] += mine[0]["jobs"]
        out["analytics.stages"] += mine[0]["stages"]
        out[f"analytics.{name}.run_s"] = run_s
        out[f"analytics.{name}.jobs"] = mine[0]["jobs"]
    stream = next((c["stream"] for c in ok if c["stream"]), {})
    out.update(stream)
    out["session.start_s"] = session_s
    return out
