"""What the benchmark's metrics mean, and for each per-layer metric the
end-to-end metric and workload it should move. Names and units live in
``BENCHMARK.json`` only.

End-to-end metrics (untraced runs, every workload):

* ``setup_s`` — process start to the first timed operation: Spark
  session and fixture (tsdb: the table load; analytics: the first,
  cold pass over the entries in a fresh process — the one-shot gate
  shape, so shared startup cost shows here).
* ``peak_rss_mb`` — peak resident memory of the driver JVM plus the
  driver Python process, read before the output checks.
* ``pass_cpu_s`` — CPU seconds the driver (Python process, JVM and
  Spark's Python workers) spends on one pass, every operation at its
  median in the run: on ``tsdb_write`` insert, update, delete (every
  second write triggers an auto-compaction) and ten queries — range +
  groupBy=tag once per aggregate, each other shape once; on
  ``analytics_sweep`` each entry once, warm. One core serves at most
  one pass per ``pass_cpu_s`` seconds, so this is the inverse of the
  throughput a saturated box reaches.
* ``query_cpu_ms`` — the same per query: the mean over the pass's ten
  HTTP ``/timeseries/query`` requests on ``tsdb_write``; over its
  registry calls (built, executed and collected with ``toPandas()``)
  on ``analytics_sweep``.

Wall-clock latencies are measured too and printed on the line before
the result (``pass_s``, ``query_p50_ms``, per-kind medians, write p50
and p75), but not gated: on a shared 4-vCPU host, hypervisor CPU steal
of 0-19% moved them by 28-75% (IQR over median, ten seeds) while the
driver's CPU time, which excludes stolen time, moved by 9-18%.

Failed operations are counted in the result line's ``failed`` out of
``attempted``; the line before it carries ``failed_frac`` and the
workload's other figures (per-shape query and write latencies, space
amplification, per-entry times) together with the run record.
"""

from __future__ import annotations

from perfbench.analytics import ENTRIES

#: per-layer metric → (end-to-end metric it should move, workload)
MOVES = {
    "server.self_ms": ("query_cpu_ms", "tsdb_write"),
    "engine.query_ms": ("query_cpu_ms", "tsdb_write"),
    "engine.collect_ms": ("query_cpu_ms", "tsdb_write"),
    "engine.write_self_ms": ("pass_cpu_s", "tsdb_write"),
    "compiler.compile_ms": ("query_cpu_ms", "tsdb_write"),
    "compiler.probe_ms": ("query_cpu_ms", "tsdb_write"),
    "compiler.probe_jobs": ("query_cpu_ms", "tsdb_write"),
    "dml.read_ms": ("query_cpu_ms", "tsdb_write"),
    "dml.prune_frac": ("query_cpu_ms", "tsdb_write"),
    "dml.insert_ms": ("pass_cpu_s", "tsdb_write"),
    "dml.update_ms": ("pass_cpu_s", "tsdb_write"),
    "dml.delete_ms": ("pass_cpu_s", "tsdb_write"),
    "dml.compact_ms": ("pass_cpu_s", "tsdb_write"),
    "dml.compactions": ("pass_cpu_s", "tsdb_write"),
    "dml.live_commits_p50": ("query_cpu_ms", "tsdb_write"),
    "dml.write_amp": ("pass_cpu_s", "tsdb_write"),
    "spark.jobs_per_query": ("query_cpu_ms", "tsdb_write"),
    "spark.jobs_per_write": ("pass_cpu_s", "tsdb_write"),
    "spark.stages_per_op": ("pass_cpu_s", "tsdb_write"),
    "spark.tasks_per_op": ("pass_cpu_s", "tsdb_write"),
    "analytics.build_s": ("pass_cpu_s", "analytics_sweep"),
    "analytics.run_s": ("pass_cpu_s", "analytics_sweep"),
    "analytics.jobs": ("pass_cpu_s", "analytics_sweep"),
    "analytics.stages": ("pass_cpu_s", "analytics_sweep"),
    **{
        f"analytics.{name}.{kind}": ("pass_cpu_s", "analytics_sweep")
        for name in ENTRIES
        for kind in ("run_s", "jobs")
    },
    "stream.queries": ("pass_cpu_s", "analytics_sweep"),
    "stream.triggers": ("pass_cpu_s", "analytics_sweep"),
    "stream.startup_s": ("pass_cpu_s", "analytics_sweep"),
    "stream.trigger_ms": ("pass_cpu_s", "analytics_sweep"),
    "stream.add_batch_ms": ("pass_cpu_s", "analytics_sweep"),
    "stream.planning_ms": ("pass_cpu_s", "analytics_sweep"),
    "stream.wal_ms": ("pass_cpu_s", "analytics_sweep"),
    "stream.idle_s": ("pass_cpu_s", "analytics_sweep"),
    "stream.input_rows": ("pass_cpu_s", "analytics_sweep"),
    "session.start_s": ("setup_s", "both"),
    "fixture.load_s": ("setup_s", "tsdb_write"),
    "trace.overhead_frac": ("none", "both"),
}
