"""Physical-plan hygiene: the properties that make the engine viable at
100 TB, asserted on the actual plans (not just hoped for).

- canonicalization / hashing / priority math compile to pure JVM expressions
  (no Python evaluation nodes)
- filters on the pages scan are pushed into the parquet reader
- small dimension joins broadcast
- n-gram counting uses partial (map-side) aggregation
- the heavy html column is pruned from post-extraction plans
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_canonicalize_is_jvm_only(spark):
    from topicrawler_spark.functions.canonicalize import canonical_url, host_classkey, url_hash64

    df = spark.createDataFrame([("http://x.example/a",)], "url string")
    out = df.select(
        canonical_url(F.col("url")).alias("c"),
        url_hash64(F.col("url")).alias("h"),
        host_classkey(F.col("url")).alias("k"),
    )
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "[codegen id" in plan  # whole-stage codegen covers the projection


def test_priority_math_is_jvm_only(spark):
    from topicrawler_spark.crawl.priority import apply_priority

    df = spark.createDataFrame([(100.0,)], "perp double")
    d, c = apply_priority(F.col("perp"))
    plan = _plan(df.select(d.alias("d"), c.alias("c")))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_parquet_filter_pushdown(spark):
    path = os.path.join(TESTDATA, "lineitem.parquet")
    if not os.path.exists(path):
        pytest.skip("testdata unavailable")
    df = spark.read.parquet(path).filter(F.col("l_orderkey") == 1).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_orderkey" in plan.split("PushedFilters")[1][:200]
    # column pruning: the read schema must not include unused wide columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema


def test_quota_join_broadcasts(spark):
    """The per-host quota/budget dimensions must broadcast, never shuffle the
    frontier."""
    frontier = spark.range(0, 1000).select(
        (F.col("id") % 50).cast("string").alias("host"), F.col("id").alias("ord_k")
    )
    quota = spark.createDataFrame([(str(i), 5) for i in range(50)], "host string, quota int")
    joined = frontier.join(F.broadcast(quota), "host", "left")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan


def test_ngram_count_partial_aggregation(spark):
    from topicrawler_spark.lm.counting import count_ngrams

    sentences = spark.createDataFrame(
        [(["a", "b", "c"],), (["a", "b"],)], "tokens array<string>"
    )
    counts = count_ngrams(sentences, order=2)
    plan = _plan(counts, "simple")
    # partial+final hash aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial_" in plan


def test_html_pruned_after_extraction(spark):
    """After the extract/outlink projection the binary html column must not
    survive into downstream plans (column pruning through the UDF stage)."""
    from topicrawler_spark.functions.udfs import make_scoring_text_udf

    pages = spark.createDataFrame(
        [("u", bytearray(b"<p>x</p>"))], "url string, html binary"
    )
    out = pages.withColumn("text", make_scoring_text_udf("ext")(F.col("html"))).drop("html").groupBy(
        "text"
    ).count()
    plan = _plan(out)
    exchange_and_after = plan.split("Exchange")[-1]
    assert "html" not in exchange_and_after


def test_seen_antijoin_shape(spark):
    """The seen-set dedup must be a plain equi-anti-join on url_hash."""
    cands = spark.range(0, 100).select(F.col("id").alias("url_hash"))
    seen = spark.range(0, 50).select(F.col("id").alias("url_hash"))
    out = cands.join(seen, "url_hash", "left_anti")
    plan = _plan(out)
    assert "LeftAnti" in plan


def _mini_round(spark, by_host=False, **cfg_kw):
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.round import (
        build_round_ops,
        init_state,
        prepare_pages,
        run_round,
    )
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=120, n_hosts=5, n_seeds=3, seed=5)
    pages = pages_dataframe(spark, corpus)
    cfg = CrawlConfig(order=3, per_host_quota=5, max_hops=5, **cfg_kw)
    lm = LocalLM.from_texts([topic_corpus(5, 60)], order=3)
    scorer_bc = spark.sparkContext.broadcast(DocumentScorer(lm, "kneser-ney"))
    from topicrawler_spark.crawl.robots import build_robots_table

    robots = build_robots_table(spark, pages, cfg)
    ops = build_round_ops(cfg, scorer_bc)
    state = init_state(spark, corpus.seeds, cfg)
    pp = prepare_pages(pages, by_host=by_host).localCheckpoint(eager=True)
    return run_round(
        spark, state, pp, scorer_bc, robots, cfg,
        frontier_size_hint=0, ops=ops, host_fetched_map={},
    )


def test_fetch_join_never_shuffles_page_store(spark):
    """The page store (the heavy html-bearing side) must reach its fetch
    join without ANY exchange, in BOTH regimes: broadcast-admitted (small
    rounds) and co-partitioned sort-merge (at-scale rounds, the bucketed-
    table path — store side pre-partitioned and pre-sorted by canon)."""
    # small regime: admitted broadcasts, store streams from the scan
    new_state, _ = _mini_round(spark)
    plan = _plan(new_state.frontier, "formatted")
    assert "BroadcastHashJoin Inner" in plan

    # at-scale regime: SMJ where only the admitted side exchanges+sorts
    # (AQE off so the static plan is inspectable; with AQE on the runtime
    # may additionally convert the admitted side to broadcast — either way
    # the store side never exchanges)
    # (at this fixture scale the 120-row store is under the auto-broadcast
    # threshold and the planner would — correctly — broadcast the store
    # itself; disable auto-broadcast to surface the large-store plan shape)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        new_state2, _ = _mini_round(spark, fetch_broadcast_max=0, seen_broadcast_max=0)
        plan2 = _plan(new_state2.frontier, "formatted")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "SortMergeJoin Inner" in plan2
    # the store scan (ExistingRDD with the html column) must feed the SMJ
    # directly — no Exchange and no Sort between scan and join on that side
    lines = plan2.splitlines()
    for i, ln in enumerate(lines):
        if "SortMergeJoin Inner" in ln:
            # left child subtree lines until the right child starts
            left = "\n".join(lines[i + 1 : i + 4])
            assert "Exchange" not in left.split("Sort")[0], left


def test_host_layout_store_scores_without_repartition(spark):
    """With the host-layout store (prepare_pages(by_host=True)) the fetch
    join keys on (host, canon): the store side STILL never exchanges (its
    host hash-partitioning satisfies the join's clustered distribution;
    only the admitted side aligns), and the scoring stage consumes the join
    output directly — the round plan must contain NO round-time repartition
    (the canon layout's html memo-locality shuffle)."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, result = _mini_round(
            spark, by_host=True, fetch_broadcast_max=0, seen_broadcast_max=0
        )
        plan = _plan(result.results, "formatted")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "SortMergeJoin" in plan
    assert "ArrowEvalPython" in plan  # the scoring stage still runs
    # every exchange in the round plan is join/agg alignment
    # (ENSURE_REQUIREMENTS); the explicit html repartition is gone
    assert "REPARTITION_BY" not in plan
    # and the store side feeds its SMJ with no exchange, as before
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "SortMergeJoin Inner" in ln:
            left = "\n".join(lines[i + 1 : i + 4])
            assert "Exchange" not in left.split("Sort")[0], left


def test_host_layout_round_parity(spark):
    """Both store layouts must produce identical round results."""
    _, r_canon = _mini_round(spark)
    _, r_host = _mini_round(spark, by_host=True)
    a = sorted(
        (row["canon"], round(row["perp"], 6))
        for row in r_canon.results.select("canon", "perp").collect()
    )
    b = sorted(
        (row["canon"], round(row["perp"], 6))
        for row in r_host.results.select("canon", "perp").collect()
    )
    assert a == b and len(a) > 0


def test_scoring_stage_is_host_partitioned(spark):
    """The scoring UDF stage must run on host-partitioned input (memo
    locality: one worker sees a whole host's pages)."""
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.round import (
        build_round_ops,
        init_state,
        prepare_pages,
        run_round,
    )
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=120, n_hosts=5, n_seeds=3, seed=5)
    pages = pages_dataframe(spark, corpus)
    cfg = CrawlConfig(order=3, per_host_quota=5, max_hops=5)
    lm = LocalLM.from_texts([topic_corpus(5, 60)], order=3)
    scorer_bc = spark.sparkContext.broadcast(DocumentScorer(lm, "kneser-ney"))
    from topicrawler_spark.crawl.robots import build_robots_table

    robots = build_robots_table(spark, pages, cfg)
    ops = build_round_ops(cfg, scorer_bc)
    state = init_state(spark, corpus.seeds, cfg)
    pp = prepare_pages(pages).localCheckpoint(eager=True)
    _, result = run_round(
        spark, state, pp, scorer_bc, robots, cfg,
        frontier_size_hint=0, ops=ops, host_fetched_map={},
    )
    plan = _plan(result.results, "formatted")
    assert "ArrowEvalPython" in plan  # the scoring stage
    # the exchange feeding it partitions by host
    assert "hashpartitioning(host" in plan


def test_pivot_stats_lookup_scans_dimension_once(spark):
    """The corpus-scale stats lookup (explode/join/pivot) must reference the
    stats dimension ONCE in the physical plan; the broadcast-size form pays
    2n-1 separate joins (and therefore 2n-1 scans of the dimension). This is
    the at-scale contract: the table that grows with the corpus crosses the
    wire once per scoring call."""
    from pyspark.sql import functions as F

    from topicrawler_spark.lm.counting import (
        count_ngrams,
        kn_join_setup,
        score_kn_join_with_stats,
    )

    order = 3
    sents = spark.createDataFrame(
        [(t.split(),) for t in ["the cat sat on the mat", "a cat and a dog"] * 3],
        "tokens array<string>",
    )
    counts = count_ngrams(sents, order=order)
    stats, consts = kn_join_setup(counts, order)
    # parquet-backed dimension so scans are countable in the plan
    import tempfile

    d = tempfile.mkdtemp()
    stats.write.mode("overwrite").parquet(d + "/stats")
    stats_pq = spark.read.parquet(d + "/stats")
    cand = counts.filter(F.col("n") == order).select("ngram")

    legacy = score_kn_join_with_stats(cand, stats_pq, order, consts)
    pivot = score_kn_join_with_stats(
        cand, stats_pq, order, consts, unique_input=True
    )
    n_scans_legacy = _plan(legacy).count(d + "/stats")
    n_scans_pivot = _plan(pivot).count(d + "/stats")
    assert n_scans_legacy == 2 * order - 1
    assert n_scans_pivot == 1
