"""Physical-plan assertions: the optimizations SURVEY.md §4 claims are
"built-in" must actually show up in the executed plan — filters reaching
the parquet scan, column pruning to the referenced columns, and top-k
instead of a global sort."""

from __future__ import annotations

from timeseries_db_spark.plans.compiler import compile_query
from timeseries_db_spark.schema import Agg, GroupBy, QueryModel, Sort
from timeseries_db_spark.sources.tables import events_as_tsdb


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _nodes(plan: str, name: str) -> list[str]:
    """Physical nodes from the formatted details section ('(N) Name')."""
    import re

    return re.findall(rf"^\(\d+\) {name}\b", plan, flags=re.MULTILINE)


def test_range_bounds_reach_the_scan(spark, sf_dir):
    qm = QueryModel(agg_func=Agg.AVG, group_by=GroupBy.TAG, gt=1704500000000, le=1706000000000)
    plan = _formatted_plan(spark, compile_query(events_as_tsdb(spark, sf_dir, qm), qm))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    # gt/le translated into the raw scan domain (sources.push_ts_bounds).
    # Spark renders the pushed literal either as raw nanos or as an ISO
    # instant depending on version/session — accept both spellings; the
    # ms values are gt+1 = 1704500000001 and le+1 = 1706000000001.
    assert (
        "GreaterThanOrEqual(ts,1704500000001000000)" in pushed[0]
        or "GreaterThanOrEqual(ts,2024-01-06T00:13:20.001" in pushed[0]
    ), pushed[0]
    assert (
        "LessThan(ts,1706000000001000000)" in pushed[0]
        or "LessThan(ts,2024-01-23T08:53:20.001" in pushed[0]
    ), pushed[0]


def test_scalar_agg_prunes_to_value_column(spark, sf_dir):
    qm = QueryModel(agg_func=Agg.SUM)
    plan = _formatted_plan(spark, compile_query(events_as_tsdb(spark, sf_dir), qm))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    assert "value:double" in read[0]
    # the only-agg fast path must not drag the tag or key columns through
    assert "event_type" not in read[0] and "event_id" not in read[0]


def test_sort_limit_compiles_to_top_k(spark, sf_dir):
    qm = QueryModel(sort=Sort.DESC, limit=10)
    plan = _formatted_plan(spark, compile_query(events_as_tsdb(spark, sf_dir), qm))
    assert "TakeOrderedAndProject" in plan, plan


def test_dimension_joins_broadcast(spark, sf_dir):
    from timeseries_db_spark.operators.joins import revenue_by_nation

    plan = _formatted_plan(spark, revenue_by_nation(spark, sf_dir))
    # customer and nation must build broadcast sides; the only exchange of
    # fact data is the orderkey join / group-by shuffle
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_tag_filter_pushes_to_scan(spark, sf_dir):
    qm = QueryModel(tag_eq="click", agg_func=Agg.COUNT)
    plan = _formatted_plan(spark, compile_query(events_as_tsdb(spark, sf_dir, qm), qm))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "EqualTo(event_type,click)" in pushed[0], plan


def test_sharded_cosine_topk_plan(spark, sf_dir):
    """The exact top-k plan: corpus streams through MapInPandas (no
    driver-side corpus), a single exchange keys the window merge by qid,
    and the corpus scan is pruned to (vec_id, embedding)."""
    from pyspark.sql import functions as F

    from timeseries_db_spark.operators.similarity import cosine_topk
    from timeseries_db_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = cosine_topk(spark, emb.filter(F.expr("vec_id % 100 = 0")), emb, 5)
    plan = _formatted_plan(spark, df)
    assert "MapInPandas" in plan, plan
    # exactly one shuffle: the qid window merge of per-shard winners
    # (formatted mode prints each node in the tree AND the details list,
    # so count physical nodes via the numbered details entries)
    assert len(_nodes(plan, "Exchange")) == 1, plan


def test_near_dup_block_join_single_shuffle(spark, sf_dir):
    """Block self-join: one exchange on the (lo, hi) block-pair key into
    FlatMapGroupsInPandas — no cartesian, no broadcast of the corpus."""
    from timeseries_db_spark.operators.similarity import near_dup_pairs
    from timeseries_db_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _formatted_plan(spark, near_dup_pairs(emb, 0.4))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert len(_nodes(plan, "Exchange")) == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_range_combos_are_one_scan(spark, sf_dir):
    """The folded 9-combo range entry must read the table ONCE (the
    'all' combo is unbounded, so branch-per-scan would re-read the full
    table nine times) and fan out combo membership with a generator —
    map-only, no shuffle."""
    from timeseries_db_spark.registry import build_registry

    q, _ = build_registry()
    plan = _formatted_plan(spark, q["range_scan_9combos"](spark, sf_dir))
    assert len(_nodes(plan, "Scan parquet")) == 1, plan
    assert len(_nodes(plan, "Generate")) == 1, plan  # the explode
    # the only exchange is compile_query's deterministic-order sort
    # (rangepartitioning) — no hash shuffle, no per-branch re-scan
    exchanges = _nodes(plan, "Exchange")
    assert len(exchanges) <= 1, plan
    assert "hashpartitioning" not in plan, plan
    assert "Union" not in plan, plan


def test_running_totals_scalable_broadcasts_offsets(spark):
    """The two-pass running total must broadcast the tiny offsets table
    back onto the data (no shuffle of the fact side for the join)."""
    from timeseries_db_spark.operators.analytics import running_totals_scalable
    from timeseries_db_spark.sources.fixture import timeseries_fixture

    plan = _formatted_plan(
        spark, running_totals_scalable(timeseries_fixture(spark, 10_000))
    )
    assert "BroadcastHashJoin" in plan, plan


def test_text_features_single_scan_no_shuffle(spark, sf_dir):
    """features() is the one-pass map-only corpus scan: every per-doc
    feature from a single read, no Exchange anywhere."""
    from timeseries_db_spark.operators.text import features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted_plan(spark, features(docs))
    assert len(_nodes(plan, "Scan parquet")) == 1, plan
    assert len(_nodes(plan, "Exchange")) == 0, plan


def test_multi_agg_entries_scan_once(spark, sf_dir):
    """r7: the multi-aggregate gate families compute every aggregate leg
    in ONE scan (stack-unpivot), not one scan per leg. agg_scalar_all
    and li_by_tag read their table exactly once; agg_by_tag_all reads
    twice (the range-filtered base + the runtime-resolved tsEq leg —
    the probe's min() subquery runs eagerly, outside this plan)."""
    from timeseries_db_spark.registry import build_registry

    q, _ = build_registry()
    plan = _formatted_plan(spark, q["agg_scalar_all"](spark, sf_dir))
    assert len(_nodes(plan, "Scan parquet")) == 1, plan
    assert "Union" not in plan, plan

    plan = _formatted_plan(spark, q["li_by_tag"](spark, sf_dir))
    assert len(_nodes(plan, "Scan parquet")) == 1, plan
    assert "Union" not in plan, plan

    plan = _formatted_plan(spark, q["agg_by_tag_all"](spark, sf_dir))
    assert len(_nodes(plan, "Scan parquet")) == 2, plan

    # pack+chunk fold: one tokenize scan, one shard-window exchange, no
    # union — each windowed row explodes into its pack + chunk rows
    plan = _formatted_plan(spark, q["corpus_pack"](spark, sf_dir))
    assert len(_nodes(plan, "Scan parquet")) == 1, plan
    assert len(_nodes(plan, "Exchange")) == 1, plan
    assert "Union" not in plan, plan


def test_ngram_jaccard_exact_has_no_candidate_distinct(spark, sf_dir):
    """The exact inverted-index Jaccard derives |A∩B| straight from the
    shingle self-join: one pair-keyed aggregation, and no
    distinct-candidate detour (which would show up as an extra
    aggregate over (id_a, id_b) feeding a re-join of the shingles)."""
    from timeseries_db_spark.operators.dedup import ngram_jaccard_pairs
    from timeseries_db_spark.registry_ext import JACCARD_T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted_plan(spark, ngram_jaccard_pairs(docs, JACCARD_T))
    # the shingle stream is scanned twice (two join sides) + once for
    # sizes — but never a fourth time for post-candidate verification
    assert len(_nodes(plan, "Scan parquet")) <= 3, plan


def test_bloom_contamination_probe_broadcasts_only(spark, sf_dir):
    """The Bloom-sketch probe must be k map-side BROADCAST joins against
    the bounded bit table — never a sort-merge join that would shuffle
    the corpus-sized train-shingle stream on the sketch key."""
    from timeseries_db_spark.operators.corpus import (
        benchmark_contamination_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted_plan(spark, benchmark_contamination_bloom(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_interpolate_linear_single_exchange(spark, sf_dir):
    """The one-union interpolation (r8): both fill directions are
    RUNNING range frames (ASC and DESC orderings) over one hash
    exchange of one union — never a [current..unboundedFollowing]
    frame, which Spark evaluates by re-scanning the partition tail per
    row (O(n²); measured 47 s vs ~1 s at sf0.1)."""
    from timeseries_db_spark.operators.asof import interpolate_linear
    from timeseries_db_spark.registry import HI, LO
    from timeseries_db_spark.sources.tables import events_as_tsdb

    df = interpolate_linear(
        events_as_tsdb(spark, sf_dir), lo=LO, hi=HI, step_ms=6 * 3_600_000
    )
    plan = _formatted_plan(spark, df)
    # two Window nodes (ASC + DESC running frames) over ONE hash
    # exchange of the union — the data is partitioned once; and no
    # O(n²) unboundedFollowing frame anywhere (both frames are running)
    assert len(_nodes(plan, "Window")) == 2, plan
    assert len(_nodes(plan, "Sort")) == 2, plan
    assert "unboundedfollowing" not in plan.lower(), plan


def test_rp_summary_map_only(spark, sf_dir):
    """The JL projection summary is a per-vector transform: its plan
    must contain NO Exchange and NO join — one scan, one project."""
    from timeseries_db_spark.operators.similarity import rp_summary

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _formatted_plan(spark, rp_summary(emb, 64))
    assert not _nodes(plan, "Exchange"), plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert j not in plan, plan


def test_bm25_broadcasts_stats_no_nested_loop(spark, sf_dir):
    """BM25's corpus statistics and df table must reach the scored
    stream as BROADCAST joins (they are one-row / |terms|-row frames);
    the rank self-join broadcasts the k-row top — nothing may plan as
    a corpus-side sort-merge join, and only the nested-loop of the
    bounded one-row stats cross join is acceptable."""
    from timeseries_db_spark.operators.text import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted_plan(spark, bm25_topk(docs, ("spark", "query"), 10))
    assert "SortMergeJoin" not in plan, plan
    assert _nodes(plan, "BroadcastHashJoin"), plan
    # the ONLY acceptable nested loops are bounded: the one-row stats
    # cross join (appearing in BOTH branches of the rank self-join)
    # plus the k-row rank join — an unbounded corpus-side nested loop
    # would show up as extra BNLJ nodes
    assert len(_nodes(plan, "BroadcastNestedLoopJoin")) <= 3, plan


def test_cms_counters_single_aggregation(spark, sf_dir):
    """The counter build is explode -> one hash aggregation: exactly one
    Exchange (on the 4096-key counter id), no join."""
    from pyspark.sql import functions as F

    from timeseries_db_spark.operators.sketches import cms_counters
    from timeseries_db_spark.operators.text import TOKENS_SPARK

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(F.explode(F.expr(TOKENS_SPARK)).alias("token")).filter(
        "token <> ''"
    )
    plan = _formatted_plan(spark, cms_counters(tok, F.col("token")))
    assert len(_nodes(plan, "Exchange")) == 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert j not in plan, plan


def test_hll_registers_single_aggregation(spark, sf_dir):
    """Register build: one Exchange on (key, bucket), no join — the
    map-side-combined hash aggregation the sketch's scale story rests
    on."""
    from pyspark.sql import functions as F

    from timeseries_db_spark.operators.sketches import hll_registers

    t = events_as_tsdb(spark, sf_dir)
    plan = _formatted_plan(
        spark, hll_registers(t, "tag", F.col("timestamp").cast("string"))
    )
    assert len(_nodes(plan, "Exchange")) == 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert j not in plan, plan


def test_rolling_avg_scalable_one_exchange_one_window(spark, sf_dir):
    """The carried-frame rolling average is ONE scan -> explode ->
    exchange on (tag, bucket) -> one sort -> ONE fused Window node (all
    three frames are incremental: two growing, one whole-partition) —
    no join, no cumulative materialization, no second shuffle. This is
    the plan the late-r8 rewrite bought (2.2x warm over the
    cumulative-table + bucketed as-of probe form)."""
    from timeseries_db_spark.operators.analytics import rolling_avg_scalable

    t = events_as_tsdb(spark, sf_dir)
    plan = _formatted_plan(
        spark, rolling_avg_scalable(t, bucket_ms=6 * 3_600_000)
    )
    assert len(_nodes(plan, "Exchange")) == 1, plan
    assert len(_nodes(plan, "Window")) == 1, plan
    assert len(_nodes(plan, "Sort")) == 1, plan
    assert len(_nodes(plan, "Scan parquet")) == 1, plan
    for j in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert j not in plan, plan


def test_scrub_plan_no_pair_fanout(spark, sf_dir):
    """The exact-substring scrub's defining property at 100 TB: every
    join is a linear equi-join (inverted-index mark, coverage anti-join,
    rebuild) — no cartesian/nested-loop node anywhere, and exactly one
    aggregation pass builds the duplicated-shingle set."""
    from timeseries_db_spark.operators.dedup import scrub_duplicated_spans
    from timeseries_db_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _formatted_plan(spark, scrub_duplicated_spans(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cohort_retention_plan_user_keyed_only(spark, sf_dir):
    """Cohort retention: no window functions (pure aggregates + joins)
    and no nested loop — the shape that keeps it one-pass at scale."""
    from timeseries_db_spark.operators.rollup import cohort_retention

    plan = _formatted_plan(spark, cohort_retention(spark, sf_dir))
    # exactly one Window — over the cohorts×offsets matrix, which is
    # tiny by construction (the offset-0 trick replaces the sizes join)
    assert len(_nodes(plan, "Window")) == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(_nodes(plan, "Scan parquet")) <= 2, plan  # first + active


def test_hll_overlap_plan_bounded(spark, sf_dir):
    """HLL set ops run entirely on register tables: after the register
    aggregation, every node touches (keys x 256)-bounded data — no
    nested loop, no cartesian, and the union merge is a plain hash
    aggregate."""
    from pyspark.sql import functions as F

    from timeseries_db_spark.operators import sketches
    from timeseries_db_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    regs = sketches.hll_registers(
        docs.selectExpr("CAST(doc_id % 3 AS STRING) AS key", "text"),
        "key",
        F.col("text"),
    )
    plan = _formatted_plan(
        spark, sketches.hll_overlap(regs, [("0", "1"), ("1", "2")])
    )
    assert "CartesianProduct" not in plan, plan


def test_text_hash_vectors_plan_no_cartesian(spark, sf_dir):
    """The hashing-trick vectorizer is one explode + two keyed aggs and
    a doc-keyed left join for zero-token docs — no cartesian/nested
    loop, no window."""
    from timeseries_db_spark.operators.text import text_hash_vectors
    from timeseries_db_spark.sources.tables import load_table

    plan = _formatted_plan(
        spark, text_hash_vectors(load_table(spark, sf_dir, "documents"))
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(_nodes(plan, "Window")) == 0, plan


def test_seasonal_zscore_plan_broadcast_moments(spark, sf_dir):
    """The seasonal detector keeps the two-pass shape: the (tag, hod)
    moments side joins via BROADCAST (never sort-merge over the stream)
    and there is no window function."""
    from timeseries_db_spark.operators.analytics import seasonal_zscore_outliers

    t = events_as_tsdb(spark, sf_dir)
    plan = _formatted_plan(spark, seasonal_zscore_outliers(t))
    assert len(_nodes(plan, "BroadcastHashJoin")) == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(_nodes(plan, "Window")) == 0, plan


def test_pq_plan_single_python_stage_no_join(spark, sf_dir):
    """r9 PQ/ADC: the fused path streams the corpus through EXACTLY ONE
    Arrow-batched Python stage (encode+ADC per shard) and merges shard
    winners with one window — no join touches the corpus, no second
    Python pass (the pre-fuse shape), no cartesian."""
    from timeseries_db_spark.operators.similarity import ann_topk_pq
    from timeseries_db_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _formatted_plan(
        spark, ann_topk_pq(spark, emb.filter("vec_id % 100 = 0"), emb, 5)
    )
    assert len(_nodes(plan, "MapInPandas")) == 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan, plan
    assert len(_nodes(plan, "Window")) == 1, plan


def test_ivfpq_plan_broadcast_pruning_no_shuffle_join(spark, sf_dir):
    """r10 IVF-PQ: the probed-list prune and the candidate-pair
    expansion are BROADCAST joins (the right side is ≤ |Q|·nprobe rows
    by construction — a shuffle join would re-key the whole corpus),
    there is no sort-merge join and no cartesian, and the corpus flows
    through exactly two Arrow stages (assign, then encode of the probed
    sublists) plus the candidate ADC kernel."""
    from timeseries_db_spark.operators.similarity import ann_topk_ivfpq
    from timeseries_db_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _formatted_plan(
        spark, ann_topk_ivfpq(spark, emb.filter("vec_id % 100 = 0"), emb, 5)
    )
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # exactly ONE broadcast join (candidate-pair expansion); list
    # pruning is a pushed-down IN filter, not a join, and the probe
    # kernel ran eagerly (bounded collect) so it is absent here
    assert len(_nodes(plan, "BroadcastHashJoin")) == 1, plan
    # assign + encode + ADC: the only Python stages that see
    # corpus-scaled rows
    assert len(_nodes(plan, "MapInPandas")) == 3, plan
    assert len(_nodes(plan, "Window")) == 1, plan


def test_pagerank_plan_no_cartesian_bounded_joins(spark):
    """r9 PageRank: each round is keyed equi-joins + one grouped sum —
    never a cartesian/nested-loop, never a window."""
    from timeseries_db_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "src long, dst long"
    )
    plan = _formatted_plan(spark, pagerank(edges, iters=2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(_nodes(plan, "Window")) == 0, plan


def test_rollup_increment_plan_broadcasts_delta_and_keys_rescan(spark, sf_dir):
    """r9 min/max maintenance: the view side stays a BROADCAST join of
    the tiny delta (never a shuffle of the view — the dropped-hint
    regression of r8), and the snapshot rescan subtree is keyed by a
    broadcast semi of the poisoned groups, so no unkeyed snapshot scan
    reaches the plan."""
    from timeseries_db_spark.operators.rollup import (
        rollup_increment,
        rollup_state,
    )
    from timeseries_db_spark.sources.tables import events_as_tsdb

    t = events_as_tsdb(spark, sf_dir)
    state = rollup_state(t, window_ms=3_600_000)
    changes = spark.createDataFrame(
        [(1_704_067_200_000, "view", 1.0, None)],
        "timestamp long, tag string, value_before double, value_after double",
    )
    plan = _formatted_plan(
        spark,
        rollup_increment(state, changes, window_ms=3_600_000, snapshot=t),
    )
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert len(_nodes(plan, "BroadcastHashJoin")) >= 3, plan


def test_crawl_ops_stay_jvm_side(spark):
    """r12 crawl operators claim pure-JVM plans — no Python evaluator
    node may appear: URL canonicalization (+SURT), the C4 page filter,
    and the CDX index parse are projections/filters Catalyst keeps in
    whole-stage codegen."""
    from timeseries_db_spark.operators import text
    from timeseries_db_spark.operators import warc as W

    urls = spark.createDataFrame(
        [(1, "HTTP://Example.COM:80/a/./b/../c?b=2&a=%4a#f")],
        "doc_id long, url string",
    )
    lines = spark.createDataFrame(
        [(1, 'com,x)/p 20240114123456 {"url": "http://x/p", "length": "5"}')],
        "doc_id long, line string",
    )
    docs = spark.createDataFrame(
        [(1, "A proper sentence with enough words right here.")],
        "doc_id long, text string",
    )
    maps = spark.createDataFrame(
        [(1, "<urlset><url><loc>https://x/p</loc></url></urlset>")],
        "doc_id long, xml string",
    )
    htmls = spark.createDataFrame(
        [(1, "<html><title>t</title></html>")], "doc_id long, html string"
    )
    for df in (
        text.url_normalize(urls),
        text.c4_page_filter(docs),
        text.gopher_quality(docs),  # r13: array HOFs, pure codegen
        text.html_page_meta(htmls),  # r13: regexp/JSON projection
        W.cdx_parse(lines),
        W.sitemap_urls(maps),  # r13: explode is Generate, not a shuffle
    ):
        plan = _formatted_plan(spark, df)
        assert "EvalPython" not in plan, plan  # Arrow/BatchEvalPython
        assert "Exchange" not in plan, plan  # map-only: no shuffle either


def test_robots_admission_broadcasts_rules(spark):
    """r12 robots_allowed claims ONE broadcast join against the URL
    corpus: the matched-rules join must be a BroadcastHashJoin (the
    rules side is per-host and tiny), never a sort-merge shuffle of
    the URL table, and no cartesian/nested-loop anywhere."""
    from timeseries_db_spark.operators import robots as R

    rules = R.robots_rules(
        spark.createDataFrame(
            [("h.com", "User-agent: *\nDisallow: /p")],
            "host string, robots_txt string",
        )
    )
    urls = spark.createDataFrame(
        [(1, "h.com", "/p/x"), (2, "h.com", "/ok")],
        "doc_id long, host string, path string",
    )
    plan = _formatted_plan(spark, R.robots_allowed(urls, rules, "bot"))
    assert len(_nodes(plan, "BroadcastHashJoin")) >= 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_arrival_readers_are_map_only(spark, tmp_path):
    """r15: the arrival-format readers must plan as a single
    Arrow-batched map over the file scan — zero Exchanges, exactly one
    Python stage (MapInPandas), nothing Python-side beyond it. At
    100 TB an accidental shuffle in a decode stage would dominate the
    whole ingest."""
    import lzma
    import os

    from timeseries_db_spark.sources import avro as AV
    from timeseries_db_spark.sources.tables import read_corpus_any

    d = tmp_path / "a"
    d.mkdir()
    (d / "p.avro").write_bytes(
        AV.avro_build(
            [{"doc_id": 1, "text": "x"}], AV.CORPUS_AVRO_SCHEMA,
            codec="snappy",
        )
    )
    (d / "t.avro").write_bytes(
        AV.avro_build(
            [{"doc_id": 1, "tag": None}], AV.TAGGED_AVRO_SCHEMA
        )
    )
    x = tmp_path / "x"
    x.mkdir()
    (x / "p.jsonl.xz").write_bytes(
        lzma.compress(b'{"doc_id": 1, "text": "x"}\n')
    )
    # r16 readers join the assertion: evolution, single-object,
    # snappy-framed and brotli shards must all stay map-only too
    import gzip as _gzip

    import pyarrow as _pa

    from timeseries_db_spark.functions.snappy import (
        snappy_framed_compress,
    )

    e = tmp_path / "e"
    e.mkdir()
    (e / "v1.avro").write_bytes(
        AV.avro_build(
            [{"doc_id": 1, "body": "x", "score": 2, "legacy_blob": b""}],
            AV.CORPUS_V1_AVRO_SCHEMA,
        )
    )
    (e / "m.sobj").write_bytes(
        AV.single_object_encode(
            [{"doc_id": 1, "text": "x"}], AV.CORPUS_AVRO_SCHEMA
        )
    )
    (e / "p.jsonl.sz").write_bytes(
        snappy_framed_compress(b'{"doc_id": 1, "text": "x"}\n')
    )
    (e / "p.jsonl.br").write_bytes(
        bytes(_pa.Codec("brotli").compress(b'{"doc_id": 1, "text": "x"}\n'))
    )
    # r17: the Confluent-wire and Kafka-segment readers join too
    from timeseries_db_spark.sources import kafka_log as KL

    (e / "m.cwire").write_bytes(
        AV.confluent_encode(
            [{"doc_id": 1, "text": "x"}], AV.CORPUS_AVRO_SCHEMA, 5
        )
    )
    (e / "m.log").write_bytes(
        KL.kafka_log_build(
            [(b"k", AV.confluent_encode(
                [{"doc_id": 1, "text": "x"}], AV.CORPUS_AVRO_SCHEMA, 5
            ))],
            compression="lz4",
        )
    )
    frames = {
        "corpus_avro": read_corpus_any(spark, str(d), fmt="avro"),
        "tagged_avro": AV.read_tagged_avro(spark, str(d)),
        "xz_jsonl": read_corpus_any(spark, str(x), fmt="jsonl.xz"),
        "evolved_avro": AV.read_evolved_corpus_avro(spark, str(e)),
        "single_object": AV.read_single_object_corpus(
            spark, str(e), [AV.CORPUS_AVRO_SCHEMA]
        ),
        "confluent_wire": AV.read_confluent_corpus(
            spark, str(e), {5: AV.CORPUS_AVRO_SCHEMA}
        ),
        "kafka_segments": KL.read_kafka_segments(spark, str(e)),
        "kafka_avro_corpus": KL.read_kafka_avro_corpus(
            spark, str(e), registry={5: AV.CORPUS_AVRO_SCHEMA}
        ),
        "sz_jsonl": read_corpus_any(spark, str(e), fmt="jsonl.sz"),
        "br_jsonl": read_corpus_any(spark, str(e), fmt="jsonl.br"),
    }
    for name, df in frames.items():
        plan = _formatted_plan(spark, df)
        assert not _nodes(plan, "Exchange"), (name, plan)
        n_py = len(_nodes(plan, "MapInPandas")) + len(
            _nodes(plan, "ArrowEvalPython")
        )
        # xz composes the lzma kernel with a JVM from_json projection:
        # still exactly ONE Python stage; the pure-Catalyst projection
        # adds no second one
        assert n_py == 1, (name, plan)
        assert not _nodes(plan, "BatchEvalPython"), (name, plan)


def test_derivatives_legs_keep_their_own_plans(spark, sf_dir):
    """r17 final shape: the leg-sharing persisted base was tried and
    REVERTED (per-run wall measured a wash — see registry_ext comment
    and OPTIMIZATION_r17.md). This test pins only that: no persisted
    base (no InMemoryTableScan) and no explicit repartition node in the
    executed plan. It does not pin one exchange per leg — r18's fused
    legs (delta+ewma, zscore+szn) share their exchanges on purpose."""
    from timeseries_db_spark import registry
    from timeseries_db_spark.operators.dedup import release_caches

    # r18 (ADVICE r17): the blanket InMemoryTableScan assertion is
    # order-dependent under the shared spark fixture — Spark's
    # CacheManager substitutes ANY session-cached fragment that
    # canonically matches, so a prior test persisting an events-derived
    # frame would fail this test spuriously. Clear tracked caches and
    # the session cache first so the assertion sees only THIS plan.
    release_caches()
    spark.catalog.clearCache()

    q, _ = registry.build_registry()
    df = q["derivatives_by_tag"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in txt, txt[:4000]
    assert "REPARTITION_BY_COL" not in txt, txt[:4000]
