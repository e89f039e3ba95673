"""Analytic (window-function) operators over the tsdb shape.

The reference has no window functions at all (SURVEY.md §2.6) — these are
driver north-star additions. The headline op is the per-tag *running
total*, the batch twin of the stateful streaming operator in
``streaming/stateful.py``.

Scale design: ``Window.partitionBy("tag")`` puts an entire tag's history
in one task — with four reference-style tags over 100 TB that is a
straight skew disaster. :func:`running_totals_scalable` is the two-pass
re-expression: bucket the time axis, aggregate per (tag, bucket) (tiny),
window over buckets for per-bucket starting offsets, then window only
*within* each (tag, bucket) partition — parallelism = tags × buckets, and
no task ever sees more than one bucket of one tag. Both variants return
identical results (same oracle), so the gate checks the scalable plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseries_db_spark.functions.numeric import (
    duck_round,
    duck_round_sql,
    duck_div,
)

RUN_COLS = ("timestamp", "tag", "value", "run_cnt", "run_sum")


def running_totals(tsdb: DataFrame) -> DataFrame:
    """Per-tag cumulative count and sum ordered by timestamp (assumes the
    tsdb uniqueness invariant — one row per (timestamp, tag) — so the
    order, and therefore the cumulative, is total)."""
    w = (
        Window.partitionBy("tag")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tsdb.select(
        "timestamp",
        "tag",
        "value",
        F.count(F.lit(1)).over(w).cast("double").alias("run_cnt"),
        # DECIMAL cumsum: exact and association-independent, so the plain,
        # scalable, and oracle variants are bit-identical by construction
        # (a double cumsum would tie the result to summation order)
        F.round(F.sum(F.col("value").cast("decimal(38,10)")).over(w), 4)
        .cast("double")
        .alias("run_sum"),
    )


def _cumulatives_scalable(tsdb: DataFrame, bucket_ms: int) -> DataFrame:
    """Per-row UNROUNDED cumulative (count, DECIMAL sum) per tag, via the
    skew-safe two-pass scheme (module docstring): per-(tag, bucket)
    partials, offsets over the tiny partial table, in-bucket windows
    only. Used by :func:`running_totals_scalable` (which rounds for
    output); the ROWS running frame splits duplicate (tag, timestamp)
    peers in arbitrary order — fine there, which documents the tsdb
    key-uniqueness assumption and whose plain twin uses ROWS too.
    (:func:`rolling_avg_scalable` needed the RANGE peer-inclusive
    variant while it differenced cumulatives; its late-r8 carried-frame
    form computes frames directly and no longer shares this helper.)
    Returns (timestamp, tag, value, c_cnt:long, c_sum:decimal)."""
    # duck_div: exact-integer division matching the DuckDB `//` twins
    bucketed = tsdb.withColumn("bucket", duck_div(F.col("timestamp"), bucket_ms))

    # pass 1: per-(tag, bucket) partials — one row per bucket, tiny;
    # decimal sums keep every downstream total exact (see running_totals)
    partials = bucketed.groupBy("tag", "bucket").agg(
        F.count(F.lit(1)).alias("b_cnt"),
        F.sum(F.col("value").cast("decimal(38,10)")).alias("b_sum"),
    )
    # offsets: everything cumulative *before* this bucket; the window runs
    # over the tiny partial table, not the data
    wb = (
        Window.partitionBy("tag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = partials.select(
        "tag",
        "bucket",
        (F.sum("b_cnt").over(wb) - F.col("b_cnt")).alias("off_cnt"),
        (F.sum("b_sum").over(wb) - F.col("b_sum")).alias("off_sum"),
    )

    # pass 2: window only within (tag, bucket); offsets broadcast-join back
    ww = (
        Window.partitionBy("tag", "bucket")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(offsets), on=["tag", "bucket"], how="inner")
        .select(
            "timestamp",
            "tag",
            "value",
            (F.col("off_cnt") + F.count(F.lit(1)).over(ww)).alias("c_cnt"),
            (
                F.coalesce(
                    F.col("off_sum"), F.lit(0).cast("decimal(38,10)")
                )
                + F.sum(F.col("value").cast("decimal(38,10)")).over(ww)
            ).alias("c_sum"),
        )
    )


def running_totals_scalable(tsdb: DataFrame, bucket_ms: int = 3_600_000) -> DataFrame:
    """Two-pass running totals that never materializes a whole tag in one
    task (see module docstring). ``bucket_ms`` sizes the inner partitions;
    at 100 TB pick it so one (tag, bucket) fits an executor core's memory.
    """
    cum = _cumulatives_scalable(tsdb, bucket_ms)
    return cum.select(
        "timestamp",
        "tag",
        "value",
        F.col("c_cnt").cast("double").alias("run_cnt"),
        F.round(F.col("c_sum"), 4).cast("double").alias("run_sum"),
    )


def point_deltas(tsdb: DataFrame) -> DataFrame:
    """Per-tag consecutive differences — the discrete derivative every
    monitoring stack asks for first: (timestamp, tag, value, dv, dt_ms),
    NULL on each tag's first point. One keyed window (lag), no second
    shuffle. Skew note: whole-tag-per-task, same as any per-key lag; for
    the 100 TB few-tags case, bucket first and stitch bucket boundaries
    with a per-(tag,bucket) first/last exchange (the running-totals
    two-pass pattern applies verbatim).

    r17: single-parse SQL strings (see :func:`point_deltas_scalable`)."""
    w = "PARTITION BY tag ORDER BY timestamp"
    return tsdb.selectExpr(
        "timestamp",
        "tag",
        "value",
        f"lag(value) OVER ({w}) AS _lv",
        f"lag(timestamp) OVER ({w}) AS _lt",
    ).selectExpr(
        "timestamp",
        "tag",
        "value",
        duck_round_sql("value - _lv") + " AS dv",
        "timestamp - _lt AS dt_ms",
    )


def point_deltas_scalable(tsdb: DataFrame, bucket_ms: int = 3_600_000) -> DataFrame:
    """Two-pass re-expression of :func:`point_deltas` that never puts a
    whole tag in one task (the running-totals pattern, see module
    docstring): window within (tag, bucket), then stitch each bucket's
    first row to the previous non-empty bucket's last point via a tiny
    per-bucket boundary table. Identical output → same oracle.

    r17 (guide §5 driver latency): expressions are built as single-parse
    SQL strings with inline OVER clauses — the Column-API form cost one
    py4j round trip per call (~190 ms of driver wall per plan build just
    for this function); the parsed trees are identical, so plans and
    results are unchanged."""
    bucketed = tsdb.selectExpr(
        "timestamp", "tag", "value", f"(timestamp div {bucket_ms}) AS bucket"
    )

    # boundary: each non-empty bucket's last point; the lag over THIS
    # tiny table (one row per non-empty bucket) finds the previous
    # non-empty bucket's last point, so empty buckets stitch correctly
    last = bucketed.groupBy("tag", "bucket").agg(
        F.expr("max(timestamp) AS _t"),
        # backticks, not quotes: see rate_per_bucket
        F.expr("max_by(value, `timestamp`) AS _v"),
    )
    wb = "PARTITION BY tag ORDER BY bucket"
    prev = last.selectExpr(
        "tag",
        "bucket",
        f"lag(_t) OVER ({wb}) AS prev_t",
        f"lag(_v) OVER ({wb}) AS prev_v",
    )

    ww = "PARTITION BY tag, bucket ORDER BY timestamp"
    return (
        bucketed.join(F.broadcast(prev), on=["tag", "bucket"], how="inner")
        .selectExpr(
            "timestamp",
            "tag",
            "value",
            "prev_t",
            "prev_v",
            f"lag(timestamp) OVER ({ww}) AS _lt",
            f"lag(value) OVER ({ww}) AS _lv",
            f"row_number() OVER ({ww}) AS _rn",
        )
        .selectExpr(
            "timestamp",
            "tag",
            "value",
            duck_round_sql(
                "value - (CASE WHEN _rn = 1 THEN prev_v ELSE _lv END)"
            )
            + " AS dv",
            "timestamp - (CASE WHEN _rn = 1 THEN prev_t ELSE _lt END)"
            " AS dt_ms",
        )
    )


def point_deltas_sql(table_sql: str) -> str:
    return f"""
        WITH t AS ({table_sql})
        SELECT "timestamp", tag, value,
               round(value - lag(value) OVER w, 4) + 0.0 AS dv,
               "timestamp" - lag("timestamp") OVER w AS dt_ms
        FROM t
        WINDOW w AS (PARTITION BY tag ORDER BY "timestamp")
    """


def rate_per_bucket(tsdb: DataFrame, bucket_ms: int = 3_600_000) -> DataFrame:
    """Per-(tag, bucket) average rate of change — (last-first)/(t_last -
    t_first) in value units per second, NULL for single-point buckets.
    One hash aggregation with ``min_by``/``max_by`` monoids (map-side
    partials combine, no window, no skew: a bucket never exceeds its
    time span regardless of tag hotness).

    r17: single-parse SQL strings (see :func:`point_deltas_scalable`)."""
    bucketed = tsdb.selectExpr(
        "tag",
        "timestamp",
        "value",
        f"(timestamp div {bucket_ms}) * {bucket_ms} AS bucket_start",
    )
    agg = bucketed.groupBy("tag", "bucket_start").agg(
        # backticks: inside F.expr a double-quoted word is a STRING
        # literal, which would order min_by by a constant
        F.expr("min_by(value, `timestamp`) AS _first_v"),
        F.expr("max_by(value, `timestamp`) AS _last_v"),
        F.expr("min(timestamp) AS _first_t"),
        F.expr("max(timestamp) AS _last_t"),
    )
    return agg.selectExpr(
        "tag",
        "bucket_start",
        duck_round_sql(
            "CASE WHEN _last_t > _first_t THEN (_last_v - _first_v)"
            " / ((_last_t - _first_t) / 1000.0) END"
        )
        + " AS rate_per_s",
    )


def rate_per_bucket_sql(table_sql: str, bucket_ms: int = 3_600_000) -> str:
    return f"""
        WITH t AS ({table_sql}),
        g AS (
            SELECT tag, ("timestamp" // {bucket_ms}) * {bucket_ms} AS bucket_start,
                   min_by(value, "timestamp") AS fv,
                   max_by(value, "timestamp") AS lv,
                   min("timestamp") AS ft, max("timestamp") AS lt
            FROM t GROUP BY 1, 2
        )
        SELECT tag, bucket_start,
               round(CASE WHEN lt > ft THEN (lv - fv) / ((lt - ft) / 1000.0) END, 4)
                   + 0.0 AS rate_per_s
        FROM g
    """


def zscore_outliers(tsdb: DataFrame, threshold: float = 2.5) -> DataFrame:
    """Per-tag z-score anomaly detection: rows where
    ``|value - mean(tag)| / stddev_pop(tag) >= threshold``.

    Two-pass, skew-proof by construction: pass 1 is a hash aggregation
    to per-tag moments (one row per tag — tiny), pass 2 broadcasts the
    moments back onto the stream and filters. No window function, so no
    whole-tag-in-one-task hazard — at 100 TB this is a map-side-combined
    agg plus a map-only filtered scan, the cheapest possible shape.

    Determinism / oracle parity: the mean and E[x²] come from exact
    DECIMAL(38,10) sums (partition-order independent), so Spark and the
    DuckDB twin compute bit-identical doubles through the same
    ``E[x²] − mean²`` formula. That one-pass variance form trades the
    usual cancellation hazard for exactness — fine while ``value`` spans
    few orders of magnitude (fixture values are O(100)); for wild ranges
    switch the moment pass to a shifted sum. Returns
    ``(tag, timestamp, value, z)`` with z rounded to 4.

    r17: single-parse SQL strings (see :func:`point_deltas_scalable`).
    """
    stats = tsdb.groupBy("tag").agg(
        F.expr("sum(CAST(value AS DECIMAL(38,10))) AS _s"),
        F.expr("sum(CAST(value * value AS DECIMAL(38,10))) AS _sq"),
        F.expr("count(1) AS _n"),
    )
    mean = "CAST(_s AS DOUBLE) / _n"
    moments = stats.selectExpr(
        "tag",
        f"{mean} AS _mean",
        f"sqrt(greatest(CAST(_sq AS DOUBLE) / _n - ({mean}) * ({mean}),"
        f" CAST(0.0 AS DOUBLE))) AS _sd",
    )
    return (
        tsdb.join(F.broadcast(moments), on="tag", how="inner")
        .filter(
            "_sd > CAST(0 AS DOUBLE) AND"
            f" abs((value - _mean) / _sd) >= CAST({threshold} AS DOUBLE)"
        )
        .selectExpr(
            "tag",
            "timestamp",
            "value",
            duck_round_sql("(value - _mean) / _sd") + " AS z",
        )
    )


def zscore_outliers_sql(table_sql: str, threshold: float = 2.5) -> str:
    return f"""
        WITH t AS ({table_sql}),
        s AS (
            SELECT tag,
                   sum(value::DECIMAL(38,10)) AS ds,
                   sum((value * value)::DECIMAL(38,10)) AS dsq,
                   count(*) AS n
            FROM t GROUP BY tag
        ),
        m AS (
            SELECT tag, ds::DOUBLE / n AS mean,
                   sqrt(greatest(dsq::DOUBLE / n - (ds::DOUBLE / n) * (ds::DOUBLE / n),
                                 0.0)) AS sd
            FROM s
        )
        SELECT t.tag, t."timestamp", t.value,
               round((t.value - m.mean) / m.sd, 4) + 0.0 AS z
        FROM t JOIN m ON t.tag = m.tag
        WHERE m.sd > 0 AND abs((t.value - m.mean) / m.sd) >= {threshold}
    """


def running_totals_sql(table_sql: str, where: str = "") -> str:
    """DuckDB oracle for both batch variants and the streaming operator."""
    return f"""
        WITH t AS ({table_sql})
        SELECT "timestamp", tag, value,
               CAST(count(*) OVER w AS DOUBLE) AS run_cnt,
               round(sum(value::DECIMAL(38,10)) OVER w, 4)::DOUBLE AS run_sum
        FROM t {where}
        WINDOW w AS (PARTITION BY tag ORDER BY "timestamp" ROWS UNBOUNDED PRECEDING)
    """


def rolling_avg(tsdb: DataFrame, window_ms: int = 3_600_000) -> DataFrame:
    """Per-point trailing time-window average: for every row, the mean
    of its tag's values over ``[ts - window_ms, ts]`` (both bounds
    inclusive — Spark ``rangeBetween`` and DuckDB ``RANGE ... PRECEDING``
    agree) plus the contributing row count. The other classic metrics
    window next to the cumulative :func:`running_totals`.

    Plan: ONE hash exchange on tag + one sort. Cost caveat: Spark
    aggregates have no inverse, so a sliding frame RE-AGGREGATES the
    in-frame buffer per row — O(rows-per-window) each, fine for sparse
    series, hostile for dense ones; :func:`rolling_avg_scalable` is the
    O(1)-per-row carried-frame difference form the gate checks (both
    are bit-identical — pytest). Determinism: the frame sum is an exact
    DECIMAL(38,10), so the mean is partition-order independent and
    engine-exact before the one rounded division.

    Skew: a whole tag sits in one task, like any per-key window; at
    100 TB apply the bucketed two-pass recipe of
    :func:`running_totals_scalable` — per-(tag, bucket) partials need
    only the previous ``window_ms`` of closing rows carried across the
    bucket boundary."""
    w = (
        Window.partitionBy("tag")
        .orderBy("timestamp")
        .rangeBetween(-window_ms, Window.currentRow)
    )
    dsum = F.sum(F.col("value").cast("decimal(38,10)")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return tsdb.select(
        "timestamp",
        "tag",
        "value",
        duck_round(dsum.cast("double") / cnt, 4).alias("roll_avg"),
        cnt.alias("roll_cnt"),
    )


def rolling_avg_sql(table_sql: str, window_ms: int = 3_600_000) -> str:
    return f"""
        WITH t AS ({table_sql})
        SELECT "timestamp", tag, value,
               round(
                   (sum(value::DECIMAL(38,10)) OVER w)::DOUBLE
                   / (count(*) OVER w), 4
               ) + 0.0 AS roll_avg,
               (count(*) OVER w)::BIGINT AS roll_cnt
        FROM t
        WINDOW w AS (
            PARTITION BY tag ORDER BY "timestamp"
            RANGE BETWEEN {window_ms} PRECEDING AND CURRENT ROW
        )
    """


def rolling_avg_scalable(
    tsdb: DataFrame,
    window_ms: int = 3_600_000,
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """:func:`rolling_avg` in its 100 TB form — the CARRIED-FRAME
    difference. Spark evaluates a sliding RANGE frame by re-aggregating
    the in-frame buffer for every row (aggregates have no inverse), so
    the naive window costs O(rows-per-window) per row — fine for sparse
    series, quadratic-ish for dense ones (ms-resolution data puts
    millions of rows in a 1 h frame). Growing frames, by contrast
    (UNBOUNDED PRECEDING → a moving upper bound), Spark evaluates
    INCREMENTALLY (rows are only ever added —
    ``UnboundedPrecedingWindowFunctionFrame``), O(1) amortized per row.

    The trailing sum is a difference of two growing frames plus a
    correction for the bucket boundary:

    ``trail[t−W, t] = run(≤t) − run(≤t−W−1) + carry(>t−W−1)``

    where ``run`` ranges over THIS (tag, bucket) partition's real rows
    and ``carry`` are duplicated tail rows of the preceding bucket(s)
    (a row at ``ts`` is copied into buckets ``bkt(ts)+1 ..
    bkt(ts+W)`` — exactly those whose windows can still reach it;
    ≈ ``W/bucket_ms`` duplication). The global prefix offsets of the
    two-pass cumulative scheme CANCEL in the difference, so unlike
    r8's first cut (materialized cumulative table + bucketed as-of
    self-probe at ``t−W−1``) this needs no partials/offsets pass, no
    checkpoint, and no as-of join: ONE exchange on (tag, bucket), ONE
    sort, one fused Window with three incremental frames. Skew-safe
    like every bucketed variant — no task sees more than one bucket of
    one key (plus its ≤ W ms carried tail).

    All frame sums are exact (BIGINT counts, DECIMAL(38,10) values), so
    the rounded mean is bit-identical to :func:`rolling_avg` and hashes
    against the same SQL-window oracle (gate-checked; fuzz-tested for
    arbitrary window/bucket ratios including windows spanning many
    buckets).

    r17: single-parse SQL strings (see :func:`point_deltas_scalable`) —
    this function was the single heaviest plan BUILD in the
    derivatives entry (~245 ms of py4j round trips per invocation)."""
    # ONE scan: each row explodes into its home bucket (the real copy)
    # plus carry copies — a row at ts influences windows of rows in
    # later buckets iff the target bucket's start <= ts + W, i.e.
    # buckets up to bkt(ts + W)
    u = tsdb.selectExpr(
        "timestamp",
        "tag",
        "value",
        f"(timestamp div {bucket_ms}) AS _src",
        f"explode(sequence(timestamp div {bucket_ms},"
        f" (timestamp + {window_ms}) div {bucket_ms})) AS _bkt",
    ).selectExpr("timestamp", "tag", "value", "_bkt", "_bkt = _src AS _real")
    part = "PARTITION BY tag, _bkt ORDER BY timestamp"
    run = f"{part} RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    prev = (
        f"{part} RANGE BETWEEN UNBOUNDED PRECEDING"
        f" AND {window_ms + 1} PRECEDING"
    )
    whole = f"{part} RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    V = "CAST(value AS DECIMAL(38,10))"
    zero_d = "CAST(0 AS DECIMAL(38,10))"
    r_cnt = "CASE WHEN _real THEN 1 ELSE 0 END"
    r_val = f"CASE WHEN _real THEN {V} END"
    c_cnt = "CASE WHEN NOT _real THEN 1 ELSE 0 END"
    c_val = f"CASE WHEN NOT _real THEN {V} END"
    roll_cnt = (
        f"sum({r_cnt}) OVER ({run})"
        f" - coalesce(sum({r_cnt}) OVER ({prev}), 0)"
        f" + sum({c_cnt}) OVER ({whole})"
        f" - coalesce(sum({c_cnt}) OVER ({prev}), 0)"
    )
    roll_sum = (
        f"sum({r_val}) OVER ({run})"
        f" - coalesce(sum({r_val}) OVER ({prev}), {zero_d})"
        f" + coalesce(sum({c_val}) OVER ({whole}), {zero_d})"
        f" - coalesce(sum({c_val}) OVER ({prev}), {zero_d})"
    )
    return (
        u.selectExpr(
            "timestamp",
            "tag",
            "value",
            "_real",
            f"{roll_cnt} AS _rc",
            f"{roll_sum} AS _rs",
        )
        .filter("_real")
        .selectExpr(
            "timestamp",
            "tag",
            "value",
            duck_round_sql("CAST(_rs AS DOUBLE) / _rc") + " AS roll_avg",
            "CAST(_rc AS BIGINT) AS roll_cnt",
        )
    )


def seasonal_zscore_outliers(
    tsdb: DataFrame, threshold: float = 2.5
) -> DataFrame:
    """Per-(tag, hour-of-day) z-score anomaly detection — the seasonal
    refinement of :func:`zscore_outliers`: a metric with a daily cycle
    (traffic, load) has hour-dependent baselines, so a value normal at
    peak is anomalous at 3am; normalizing against the global moments
    misses exactly those. Same two-pass skew-proof shape with a
    (tags × 24)-row broadcast moments table and the same exact-DECIMAL
    moment arithmetic. Returns (tag, timestamp, value, hod, z).

    r17: single-parse SQL strings (see :func:`point_deltas_scalable`)."""
    # `div`, not cast(col/d as long): the double-division form loses
    # ulps for |ts| >= 2^53 and diverges from the twin's integer //
    with_h = tsdb.selectExpr(
        "tag", "timestamp", "value", "(timestamp div 3600000) % 24 AS hod"
    )
    stats = with_h.groupBy("tag", "hod").agg(
        F.expr("sum(CAST(value AS DECIMAL(38,10))) AS _s"),
        F.expr("sum(CAST(value * value AS DECIMAL(38,10))) AS _sq"),
        F.expr("count(1) AS _n"),
    )
    mean = "CAST(_s AS DOUBLE) / _n"
    moments = stats.selectExpr(
        "tag",
        "hod",
        f"{mean} AS _mean",
        f"sqrt(greatest(CAST(_sq AS DOUBLE) / _n - ({mean}) * ({mean}),"
        f" CAST(0.0 AS DOUBLE))) AS _sd",
    )
    return (
        with_h.join(F.broadcast(moments), on=["tag", "hod"], how="inner")
        .filter(
            "_sd > CAST(0 AS DOUBLE) AND"
            f" abs((value - _mean) / _sd) >= CAST({threshold} AS DOUBLE)"
        )
        .selectExpr(
            "tag",
            "timestamp",
            "value",
            "CAST(hod AS BIGINT) AS hod",
            duck_round_sql("(value - _mean) / _sd") + " AS z",
        )
    )


def seasonal_zscore_outliers_sql(table_sql: str, threshold: float = 2.5) -> str:
    return f"""
        WITH t AS (
            SELECT tag, "timestamp", value,
                   ("timestamp" // 3600000) % 24 AS hod
            FROM ({table_sql})
        ),
        s AS (
            SELECT tag, hod,
                   sum(value::DECIMAL(38,10)) AS ds,
                   sum((value * value)::DECIMAL(38,10)) AS dsq,
                   count(*) AS n
            FROM t GROUP BY tag, hod
        ),
        m AS (
            SELECT tag, hod, ds::DOUBLE / n AS mean,
                   sqrt(greatest(dsq::DOUBLE / n - (ds::DOUBLE / n) * (ds::DOUBLE / n),
                                 0.0)) AS sd
            FROM s
        )
        SELECT t.tag, t."timestamp", t.value, t.hod::BIGINT AS hod,
               round((t.value - m.mean) / m.sd, 4) + 0.0 AS z
        FROM t JOIN m ON t.tag = m.tag AND t.hod = m.hod
        WHERE m.sd > 0 AND abs((t.value - m.mean) / m.sd) >= {threshold}
    """


# ---------------------------------------------------------------------------
# Exponential smoothing (dyadic EWMA) — r9
# ---------------------------------------------------------------------------

EWMA_LAGS = 40
EWMA_FP = 1_000_000
#: Window spec shared by :func:`ewma_dyadic` and :func:`delta_ewma_fused`
#: (ties on timestamp order by the quantized value ``x6``).
EWMA_WINDOW = "PARTITION BY tag ORDER BY timestamp, x6"
#: Frame fold: element i (0-based) of the frame (oldest first, newest
#: last, n rows) weighs 2^-(n - i) — shift-divide in exact integer math.
EWMA_FOLD_SQL = (
    "aggregate(transform(_frame, (x, i) -> "
    "x div shiftleft(CAST(1 AS BIGINT), size(_frame) - i)), "
    "CAST(0 AS BIGINT), (a, b) -> a + b) AS ewma_fp"
)


def ewma_dyadic(tsdb: DataFrame, lags: int = EWMA_LAGS) -> DataFrame:
    """(timestamp, tag, value, ewma_fp) — trailing exponentially-
    weighted moving average with α = 1/2 over the last ``lags`` points
    per tag: ``ewma = Σ_i x_{t-i} / 2^(i+1)`` (weights 1/2, 1/4, …; the
    classic smoothing/forecasting primitive of the reference's
    time-series domain, in its truncated-window form).

    Engine-exactness: α = 1/2 makes every weight a POWER OF TWO, so
    after quantizing each point to micro-units
    (``x6 = round(value·1e6)``), each term is an integer shift-divide
    and the sum is pure BIGINT arithmetic — order-independent and
    bit-identical in DuckDB, like the LM scorer / PQ / PageRank
    fixed-point family. ``ewma_fp`` is the result in micro-units
    (divide by 1e6 for display); the truncated tail means weights sum
    to 1 − 2⁻ⁿ rather than 1 — documented semantics, not drift.

    Scale: one window (the same per-tag shuffle every lag-based
    operator pays) with a bounded ``lags``-row collected frame; the
    fold over the frame is a JVM higher-order function — no Python, no
    second pass. Measured alternative (sf0.1, warm): ``lags`` separate
    ``lag()`` expressions over a shared spec run 2× SLOWER than the one
    collected frame (each lag is its own frame processor pass in
    WindowExec; the array form pays one buffer slice + one fused fold).
    Ties on (timestamp) order by the quantized value so the frame
    content is deterministic (identical rows are interchangeable).

    r17: single-parse SQL strings (see :func:`point_deltas_scalable`)."""
    w = f"{EWMA_WINDOW} ROWS BETWEEN {lags - 1} PRECEDING AND CURRENT ROW"
    return (
        tsdb.selectExpr(
            "timestamp",
            "tag",
            "value",
            f"CAST(round(value * {EWMA_FP}) AS BIGINT) AS x6",
        )
        .selectExpr(
            "timestamp",
            "tag",
            "value",
            f"collect_list(x6) OVER ({w}) AS _frame",
        )
        .selectExpr(
            "timestamp",
            "tag",
            "value",
            EWMA_FOLD_SQL,
        )
    )


def delta_ewma_fused(tsdb: DataFrame, lags: int = EWMA_LAGS) -> DataFrame:
    """:func:`point_deltas` and :func:`ewma_dyadic` computed in ONE
    tag-partitioned window pass (r18, guide §2.4: two operations keyed
    the same way share one exchange): (timestamp, tag, value, dv,
    dt_ms, ewma_fp). Separately the two legs each paid a full-data
    Exchange + Sort + parquet scan; fused they share one of each — the
    lag and the collected EWMA frame are just two frame processors of
    the same Window operator.

    Both window specs order by (timestamp, x6); under the tsdb
    uniqueness invariant (one row per (timestamp, tag) — module
    docstring) the x6 tie-break is inert and the lag sees exactly
    :func:`point_deltas`' order. Bit-equality of the fused frame with
    the two separate operators is pytest-pinned."""
    w = EWMA_WINDOW
    we = f"{w} ROWS BETWEEN {lags - 1} PRECEDING AND CURRENT ROW"
    return (
        tsdb.selectExpr(
            "timestamp",
            "tag",
            "value",
            f"CAST(round(value * {EWMA_FP}) AS BIGINT) AS x6",
        )
        .selectExpr(
            "timestamp",
            "tag",
            "value",
            f"lag(value) OVER ({w}) AS _lv",
            f"lag(timestamp) OVER ({w}) AS _lt",
            f"collect_list(x6) OVER ({we}) AS _frame",
        )
        .selectExpr(
            "timestamp",
            "tag",
            "value",
            duck_round_sql("value - _lv") + " AS dv",
            "timestamp - _lt AS dt_ms",
            EWMA_FOLD_SQL,
        )
    )


def zscore_seasonal_fused(
    tsdb: DataFrame, threshold: float = 2.5
) -> DataFrame:
    """:func:`zscore_outliers` and :func:`seasonal_zscore_outliers`
    from ONE events scan and ONE moment aggregation (r18, guide §2.3
    aggregate-before-shuffle / share the pass): the per-tag moments are
    the EXACT per-(tag, hod) DECIMAL(38,10) partials re-aggregated by
    tag (decimal addition is exact and associative, so _s/_sq/_n — and
    therefore mean and sd — are bit-identical to the direct per-tag
    aggregation; pytest-pinned). Separately the two legs paid two full
    scans for the moment aggs and two more for the broadcast-join
    filters; fused: one scan for the (tag, hod) partials + a tiny
    rollup, one scan for the row side with BOTH tiny moment tables
    broadcast onto it.

    Returns one row per input row: (tag, timestamp, value, hod,
    z_global, keep_global, z_seasonal, keep_seasonal) — the caller
    selects/filters each leg's shape (both z columns are pre-rounded
    with the same duck_round the separate operators apply)."""
    with_h = tsdb.selectExpr(
        "tag", "timestamp", "value", "(timestamp div 3600000) % 24 AS hod"
    )
    stats_h = with_h.groupBy("tag", "hod").agg(
        F.expr("sum(CAST(value AS DECIMAL(38,10))) AS _s"),
        F.expr("sum(CAST(value * value AS DECIMAL(38,10))) AS _sq"),
        F.expr("count(1) AS _n"),
    )
    # per-tag totals via a window over the TINY (tags × 24)-row stats
    # frame — Catalyst does not CSE a repeated aggregate subtree, so a
    # separate groupBy("tag") would re-scan and re-aggregate the events;
    # the window rollup keeps ONE aggregation pass and ONE broadcast
    # table carrying both moment levels
    wt = "PARTITION BY tag"
    stats_b = stats_h.selectExpr(
        "tag",
        "hod",
        "_s",
        "_sq",
        "_n",
        f"sum(_s) OVER ({wt}) AS _st",
        f"sum(_sq) OVER ({wt}) AS _sqt",
        f"sum(_n) OVER ({wt}) AS _nt",
    )

    def _m(s: str, sq: str, n: str) -> tuple[str, str]:
        mean = f"CAST({s} AS DOUBLE) / {n}"
        sd = (
            f"sqrt(greatest(CAST({sq} AS DOUBLE) / {n} - ({mean}) * ({mean}),"
            f" CAST(0.0 AS DOUBLE)))"
        )
        return mean, sd

    mh, sdh = _m("_s", "_sq", "_n")
    mt, sdt = _m("_st", "_sqt", "_nt")
    moments = stats_b.selectExpr(
        "tag",
        "hod",
        f"{mh} AS _mh",
        f"{sdh} AS _sdh",
        f"{mt} AS _mt",
        f"{sdt} AS _sdt",
    )
    thr = f"CAST({threshold} AS DOUBLE)"
    return (
        with_h.join(F.broadcast(moments), on=["tag", "hod"], how="inner")
        .selectExpr(
            "tag",
            "timestamp",
            "value",
            "CAST(hod AS BIGINT) AS hod",
            duck_round_sql("(value - _mt) / _sdt") + " AS z_global",
            "_sdt > CAST(0 AS DOUBLE) AND"
            f" abs((value - _mt) / _sdt) >= {thr} AS keep_global",
            duck_round_sql("(value - _mh) / _sdh") + " AS z_seasonal",
            "_sdh > CAST(0 AS DOUBLE) AND"
            f" abs((value - _mh) / _sdh) >= {thr} AS keep_seasonal",
        )
    )


def ewma_dyadic_sql(table_sql: str, lags: int = EWMA_LAGS) -> str:
    """DuckDB twin: same quantize → ``lags`` lag() terms over one
    window spec → integer shift-divide sum (missing lags contribute 0)."""
    terms = " + ".join(
        f"COALESCE(lag(x6, {i}) OVER w // CAST({1 << (i + 1)} AS BIGINT), 0)"
        for i in range(lags)
    )
    return f"""
        WITH t AS (
            SELECT "timestamp", tag, value,
                   CAST(round(value * {EWMA_FP}) AS BIGINT) AS x6
            FROM ({table_sql})
        )
        SELECT "timestamp", tag, value,
               ({terms})::BIGINT AS ewma_fp
        FROM t
        WINDOW w AS (PARTITION BY tag ORDER BY "timestamp", x6)
    """


def mad_by_tag(tsdb: DataFrame) -> DataFrame:
    """(tag, med, mad) — median absolute deviation per tag: the ROBUST
    scale statistic behind outlier detection that a single wild value
    cannot poison (unlike the stddev the z-score legs use — one 1e9
    reading inflates σ until nothing else flags). ``mad`` is the median
    of ``|x − med|``; multiply by 1.4826 for a σ-consistent estimate.

    Exactness: both medians are the same linearly-interpolated
    percentile the gated exact-quantiles leg already proves equal to
    DuckDB's ``quantile_cont``; ``|x − med|`` is a single subtract+abs —
    identical IEEE ops both engines.

    Scale: one group-median pass, then the tags-sized median table
    broadcasts back for the deviation pass — two scans, no per-row
    window; exact percentile sorts within each group like the exact
    quantile leg (the mergeable-sketch alternative is the histogram
    leg's territory)."""
    med = tsdb.groupBy("tag").agg(F.percentile("value", 0.5).alias("med"))
    return (
        tsdb.join(F.broadcast(med), "tag")
        .groupBy("tag")
        .agg(
            F.min("med").alias("med"),
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"),
        )
        .select(
            "tag",
            duck_round(F.col("med"), 4).alias("med"),
            duck_round(F.col("mad"), 4).alias("mad"),
        )
    )


def mad_by_tag_sql(table_sql: str) -> str:
    return f"""
        WITH t AS ({table_sql}),
        m AS (SELECT tag, quantile_cont(value, 0.5) AS med FROM t GROUP BY tag)
        SELECT t.tag,
               round(m.med, 4) + 0.0 AS med,
               round(quantile_cont(abs(t.value - m.med), 0.5), 4) + 0.0 AS mad
        FROM t JOIN m ON t.tag = m.tag
        GROUP BY t.tag, m.med
    """


LINFIT_X0 = 1_704_067_200_000  # 2024-01-01 UTC: the intercept's origin


def linfit_by_tag(tsdb: DataFrame) -> DataFrame:
    """(tag, slope, icept) — per-tag ordinary-least-squares trend of
    value over time: slope in value-units per HOUR (ms slopes print as
    1e-9 noise), intercept = fitted value at ``LINFIT_X0``. The
    trend-detection staple next to the deltas/rates legs ("is this
    series drifting, and how fast").

    Engine-exactness: the four sufficient statistics (n, Σx, Σy, Σxy,
    Σx²) accumulate EXACTLY — values quantize to micro-unit BIGINT and
    every sum/product runs in DECIMAL(38) (Spark) / HUGEINT-backed
    DECIMAL (DuckDB), so the closed-form numerators are identical
    integers on both engines; only the FINAL division happens in
    doubles (each exact integer has a unique nearest double), rounded
    with duck_round. Native ``regr_slope`` accumulates in floats —
    engine-dependent — which is why this is hand-rolled.

    Scale: ONE hash aggregation with map-side partials — the cheapest
    possible shape; no window, no second pass. Time is shifted to the
    fixed ``LINFIT_X0`` origin (2024-01-01) before squaring — slope is
    translation-invariant and the shift keeps ``n·Σx²`` inside
    DECIMAL(38)/HUGEINT headroom at any realistic n (raw epoch-ms
    squares are ~3e24 each); ``icept`` is therefore the fitted value AT
    the origin, which is also the more meaningful number."""
    y6 = F.expr("CAST(round(value * 1000000) AS BIGINT)")
    xd = (F.col("timestamp") - F.lit(LINFIT_X0)).cast("decimal(20,0)")
    agg = (
        tsdb.select("tag", xd.alias("x"), y6.alias("y"))
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("y").cast("decimal(20,0)")).alias("sy"),
            F.sum(F.col("x") * F.col("y").cast("decimal(20,0)")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # a single point (or all points at one instant) has no slope:
    # den = 0 would emit engine-shaped NaN rows — drop them instead
    agg = agg.filter(den > 0)
    # slope in micro-units/ms → value-units/hour: × 3_600_000 / 1e6
    slope = duck_round(num / den * F.lit(3.6), 6)
    icept = duck_round(
        (
            F.col("sy").cast("double")
            - (num / den) * F.col("sx").cast("double")
        )
        / F.col("n").cast("double")
        / F.lit(1_000_000.0),
        4,
    )
    return agg.select("tag", slope.alias("slope"), icept.alias("icept"))


def linfit_by_tag_sql(table_sql: str) -> str:
    """DuckDB twin: identical integer statistics (HUGEINT products) and
    the identical final double expression tree."""
    return f"""
        WITH t AS (
            SELECT tag, ("timestamp" - {LINFIT_X0})::HUGEINT AS x,
                   CAST(round(value * 1000000) AS HUGEINT) AS y
            FROM ({table_sql})
        ),
        s AS (
            SELECT tag, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM t GROUP BY tag
        )
        SELECT tag,
               round((n * sxy - sx * sy)::DOUBLE
                     / (n * sxx - sx * sx)::DOUBLE * 3.6, 6) + 0.0 AS slope,
               round((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
                                    / (n * sxx - sx * sx)::DOUBLE)
                                   * sx::DOUBLE)
                     / n::DOUBLE / 1000000.0, 4) + 0.0 AS icept
        FROM s
        WHERE (n * sxx - sx * sx)::DOUBLE > 0
    """


def tag_correlations(
    tsdb: DataFrame, bucket_ms: int = 3_600_000, max_tags: int | None = 1000
) -> DataFrame:
    """(tag_a, tag_b, r, n) for every tag pair (a < b) — Pearson
    correlation between the series' BUCKET-MEAN values over the hours
    where both have data: "do these two metrics move together", the
    first multivariate question over a metrics store.

    Exactness: bucket means are exact-DECIMAL sums divided once in
    doubles (identical both engines), then quantized to micro-unit
    BIGINT; the pair statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate
    as exact integers (the :func:`linfit_by_tag` discipline), so the
    only float ops are one sqrt and one divide on identical integers —
    ``r`` value-hashes cross-engine.

    Scale: aggregate FIRST (one (bucket, tag) hash agg over the facts),
    then the pair join runs on the tiny aligned table — |tags|² cost on
    buckets×tags rows, never on raw data. The |tags|² term itself is
    guarded by ``max_tags`` (r10, VERDICT r9 item 3): past the cap,
    only the ``max_tags`` most ACTIVE tags (most populated buckets,
    tag-asc tiebreak — deterministic) enter the pairing, selected by
    one tiny agg + a broadcast semi-join, the same df-cap discipline
    as ``dedup.py``'s posting-list cap. Under the cap (every fixture;
    typical metrics stores) results are unchanged; a 100k-tag
    deployment pairs 1000²/2 rows instead of 5·10⁹. ``max_tags=None``
    disables the guard."""
    from timeseries_db_spark.functions.numeric import duck_div

    g = (
        tsdb.groupBy(
            duck_div(F.col("timestamp"), bucket_ms).alias("b"), "tag"
        )
        .agg(
            F.sum(F.col("value").cast("decimal(38,10)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "b",
            "tag",
            F.expr(
                "CAST(round(CAST(_s AS DOUBLE) / _n * 1000000) AS BIGINT)"
            ).alias("v6"),
        )
    )
    if max_tags is not None:
        top = (
            g.groupBy("tag")
            .agg(F.count(F.lit(1)).alias("_nb"))
            .orderBy(F.col("_nb").desc(), F.col("tag"))
            .limit(max_tags)  # TakeOrderedAndProject: bounded driver rows
            .select("tag")
        )
        g = g.join(F.broadcast(top), "tag")
    a = g.select("b", F.col("tag").alias("tag_a"), F.col("v6").alias("x"))
    bb = g.select("b", F.col("tag").alias("tag_b"), F.col("v6").alias("y"))
    joined = a.join(bb, "b").filter(F.col("tag_a") < F.col("tag_b"))
    dx = F.col("x").cast("decimal(20,0)")
    dy = F.col("y").cast("decimal(20,0)")
    s = joined.groupBy("tag_a", "tag_b").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * dy).alias("sxy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # a constant series (or a single shared bucket) has no correlation:
    # zero variance would emit engine-shaped NaN rows — drop them
    return s.filter((vx > 0) & (vy > 0)).select(
        "tag_a",
        "tag_b",
        duck_round(num / F.sqrt(vx * vy), 6).alias("r"),
        F.col("n").cast("long").alias("n"),
    )


def tag_correlations_sql(table_sql: str, bucket_ms: int = 3_600_000) -> str:
    """DuckDB twin: identical bucket-mean quantization and HUGEINT pair
    statistics; the same single sqrt+divide float tree."""
    return f"""
        WITH t AS ({table_sql}),
        g AS (
            SELECT "timestamp" // {bucket_ms} AS b, tag,
                   CAST(round(CAST(sum(value::DECIMAL(38,10)) AS DOUBLE)
                              / count(*) * 1000000) AS HUGEINT) AS v6
            FROM t GROUP BY 1, 2
        ),
        p AS (
            SELECT a.tag AS tag_a, c.tag AS tag_b,
                   count(*)::HUGEINT AS n,
                   sum(a.v6) AS sx, sum(c.v6) AS sy,
                   sum(a.v6 * c.v6) AS sxy,
                   sum(a.v6 * a.v6) AS sxx, sum(c.v6 * c.v6) AS syy
            FROM g a JOIN g c ON a.b = c.b AND a.tag < c.tag
            GROUP BY 1, 2
        )
        SELECT tag_a, tag_b,
               round((n * sxy - sx * sy)::DOUBLE
                     / sqrt((n * sxx - sx * sx)::DOUBLE
                            * (n * syy - sy * sy)::DOUBLE), 6) + 0.0 AS r,
               n::BIGINT AS n
        FROM p
        WHERE (n * sxx - sx * sx)::DOUBLE > 0
          AND (n * syy - sy * sy)::DOUBLE > 0
    """


#: CUSUM defaults — slack kappa in value units, decision threshold h.
#: Tuned so the events fixture raises SPARSE, per-tag-differentiated
#: alarms (dozens-to-hundreds per ~2k-row tag, not all or none).
CUSUM_KAPPA = 10.0
CUSUM_H = 300.0


def cusum_by_tag(
    tsdb: DataFrame, kappa: float = CUSUM_KAPPA, h: float = CUSUM_H
) -> DataFrame:
    """(tag, n_pos, n_neg, first_pos_ts, first_neg_ts, fp_pos, fp_neg)
    — CUSUM change detection per tag (r14): Page's cumulative-sum
    chart in its NON-restarting monitored form. The recursion
    ``S_i = max(0, S_{i-1} + d_i)`` is not a window aggregate, but its
    reflection identity is: ``S_i = C_i − min(0, min_{j≤i} C_j)`` with
    ``C`` the plain cumulative sum of the drift-corrected deltas
    ``d_i = ±(value − μ_tag) − κ`` — so the whole chart is two stacked
    window passes over ONE tag exchange, no recursion, no UDF. Alarms
    are rows with ``S > h``; the summary carries both sides' alarm
    counts, first alarm timestamps, and an exact-integer alarm-set
    fingerprint (``Σ ts mod 1e9`` — order-free BIGINT, so the oracle
    pins the exact alarm SET, not just its size).

    Determinism / oracle parity: μ comes from the exact DECIMAL(38,10)
    moment sum (the :func:`zscore_outliers` pattern), and both engines
    evaluate the window cumsum in timestamp order with RANGE-frame tie
    semantics — bit-identical doubles throughout. Restart-on-alarm
    (the sequential test variant) is a per-tag scan by construction
    and stays out of scope; the monitored chart is what dashboards
    plot. Scale: one hash agg (moments) + one exchange on tag with
    two window phases over the same sort — the running_totals shape."""
    from pyspark.sql import Window

    stats = tsdb.groupBy("tag").agg(
        F.sum(F.col("value").cast("decimal(38,10)")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    m = stats.select(
        "tag", (F.col("_s").cast("double") / F.col("_n")).alias("_mu")
    )
    d = tsdb.join(F.broadcast(m), "tag").select(
        "tag",
        "timestamp",
        (F.col("value") - F.col("_mu") - F.lit(kappa)).alias("dp"),
        (-(F.col("value") - F.col("_mu")) - F.lit(kappa)).alias("dn"),
    )
    w = Window.partitionBy("tag").orderBy("timestamp")
    c = d.select(
        "tag",
        "timestamp",
        F.sum("dp").over(w).alias("cp"),
        F.sum("dn").over(w).alias("cn"),
    )
    c2 = c.select(
        "tag",
        "timestamp",
        "cp",
        "cn",
        F.min("cp").over(w).alias("mp"),
        F.min("cn").over(w).alias("mn"),
    )
    s = c2.select(
        "tag",
        "timestamp",
        (F.col("cp") - F.least(F.col("mp"), F.lit(0.0))).alias("sp"),
        (F.col("cn") - F.least(F.col("mn"), F.lit(0.0))).alias("sn"),
    )
    fp = F.col("timestamp") % 1_000_000_000
    return s.groupBy("tag").agg(
        F.sum((F.col("sp") > h).cast("long")).alias("n_pos"),
        F.sum((F.col("sn") > h).cast("long")).alias("n_neg"),
        F.min(F.when(F.col("sp") > h, F.col("timestamp"))).alias(
            "first_pos_ts"
        ),
        F.min(F.when(F.col("sn") > h, F.col("timestamp"))).alias(
            "first_neg_ts"
        ),
        F.sum(F.when(F.col("sp") > h, fp)).alias("fp_pos"),
        F.sum(F.when(F.col("sn") > h, fp)).alias("fp_neg"),
    )


def cusum_by_tag_sql(
    table_sql: str, kappa: float = CUSUM_KAPPA, h: float = CUSUM_H
) -> str:
    """DuckDB twin of :func:`cusum_by_tag` — same decimal moments,
    same reflection identity, same summary."""
    return f"""
        WITH t AS ({table_sql}),
        s AS (
            SELECT tag, sum(value::DECIMAL(38,10)) AS ds, count(*) AS n
            FROM t GROUP BY tag
        ),
        m AS (SELECT tag, ds::DOUBLE / n AS mu FROM s),
        d AS (
            SELECT t.tag, t."timestamp",
                   value - mu - {kappa} AS dp,
                   -(value - mu) - {kappa} AS dn
            FROM t JOIN m ON t.tag = m.tag
        ),
        c AS (
            SELECT tag, "timestamp",
                   sum(dp) OVER w AS cp, sum(dn) OVER w AS cn
            FROM d WINDOW w AS (PARTITION BY tag ORDER BY "timestamp")
        ),
        c2 AS (
            SELECT tag, "timestamp", cp, cn,
                   min(cp) OVER w AS mp, min(cn) OVER w AS mn
            FROM c WINDOW w AS (PARTITION BY tag ORDER BY "timestamp")
        ),
        sv AS (
            SELECT tag, "timestamp",
                   cp - least(mp, 0) AS sp, cn - least(mn, 0) AS sn
            FROM c2
        )
        SELECT tag,
               sum(CASE WHEN sp > {h} THEN 1 ELSE 0 END)::BIGINT AS n_pos,
               sum(CASE WHEN sn > {h} THEN 1 ELSE 0 END)::BIGINT AS n_neg,
               min(CASE WHEN sp > {h} THEN "timestamp" END) AS first_pos_ts,
               min(CASE WHEN sn > {h} THEN "timestamp" END) AS first_neg_ts,
               sum(CASE WHEN sp > {h} THEN "timestamp" % 1000000000
                   END)::BIGINT AS fp_pos,
               sum(CASE WHEN sn > {h} THEN "timestamp" % 1000000000
                   END)::BIGINT AS fp_neg
        FROM sv GROUP BY tag
    """
