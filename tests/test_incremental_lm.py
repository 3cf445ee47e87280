"""Incremental topic-LM refresh (cfg.lm_refresh_every, join scoring only).

Guarantees pinned here:
- ``extend_lm_counts`` is EXACT: extending counts(A) with corpus B equals
  recounting the concatenated corpus A+B (same tokenizer, same n-gram
  windows), with mincount applied after the merge.
- A refresh that admits no pages is a pure no-op: the rebuilt join scorer
  reproduces the static-LM crawl decision-for-decision (frontier rows,
  admissions, perplexity stats).
- A real refresh grows the count table; with a checkpoint store the
  refreshed table commits atomically with its round and resume scores
  against the newest persisted table, not the stale seed-time one.
- The flag is rejected outside join scoring (the broadcast LocalLM is the
  documented driver-bounded path).
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from topicrawler_spark.crawl.checkpoint import CheckpointStore
from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.driver import run_crawl
from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
from topicrawler_spark.lm.counting import (
    count_ngrams,
    extend_lm_counts,
    sentences_tokens,
)
from topicrawler_spark.lm.local import LocalLM
from topicrawler_spark.lm.perplexity import DocumentScorer


def _counts_rows(df):
    return sorted((r["ngram"], r["n"], r["cnt"]) for r in df.collect())


def _counts_df(spark, lm: LocalLM):
    return spark.createDataFrame(
        [(g, len(g.split(" ")), c) for g, c in lm.counts.items()],
        "ngram string, n int, cnt long",
    )


def _frontier_rows(run):
    return sorted(
        (r["canon"], r["host"], r["directive"], r["precedence"],
         r["ord_r"], r["ord_k"], r["hops"])
        for r in run.state.frontier.collect()
    )


def test_extend_equals_recount(spark):
    a, b = topic_corpus(7), topic_corpus(13)
    base = count_ngrams(
        sentences_tokens(spark.createDataFrame([(a,)], "text string")), 3
    )
    ext = extend_lm_counts(base, spark.createDataFrame([(b,)], "text string"), 3)
    full = count_ngrams(
        sentences_tokens(spark.createDataFrame([(a,), (b,)], "text string")), 3
    )
    assert _counts_rows(ext) == _counts_rows(full)


def test_extend_mincount_after_merge(spark):
    # a gram counted once on each side must SURVIVE mincount=2 post-merge —
    # pruning either side first would lose it
    base = count_ngrams(
        sentences_tokens(spark.createDataFrame([("rare pair",)], "text string")), 2
    )
    ext = extend_lm_counts(
        base, spark.createDataFrame([("rare pair",)], "text string"), 2, mincount=2
    )
    rows = dict(((r["ngram"], r["n"]), r["cnt"]) for r in ext.collect())
    assert rows[("rare pair", 2)] == 2
    # and nothing below the threshold remains
    assert all(c >= 2 for c in rows.values())


def test_noop_refresh_parity(spark):
    corpus = generate_corpus(n_pages=400, n_hosts=8, n_seeds=4, seed=21)
    lm = LocalLM.from_texts([topic_corpus(21)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    pages = pages_dataframe(spark, corpus)
    cfg = CrawlConfig(order=3, per_host_quota=40, max_hops=10, score_mode="join")
    ref = run_crawl(spark, pages, corpus.seeds, scorer, 3, cfg,
                    lm_counts=_counts_df(spark, lm))
    # refresh fires every round but the perp gate admits nothing: the
    # re-built scorer must reproduce the static crawl exactly
    cfg_noop = replace(cfg, lm_refresh_every=1, lm_refresh_max_perp=1e-12)
    run = run_crawl(spark, pages, corpus.seeds, scorer, 3, cfg_noop,
                    lm_counts=_counts_df(spark, lm))
    assert _frontier_rows(ref) == _frontier_rows(run)
    for mr, mn in zip(ref.metrics, run.metrics):
        assert mr["admitted"] == mn["admitted"]
        assert mr["fetched"] == mn["fetched"]
        assert mr["urls_discovered"] == mn["urls_discovered"]
        for k in ("perp_min", "perp_max", "perp_avg"):
            if mr[k] is None:
                assert mn[k] is None
            else:
                assert mn[k] == pytest.approx(mr[k], rel=1e-12)


def test_refresh_commits_and_resumes(spark, tmp_path):
    corpus = generate_corpus(n_pages=400, n_hosts=8, n_seeds=4, seed=33)
    lm = LocalLM.from_texts([topic_corpus(33)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    pages = pages_dataframe(spark, corpus)
    cfg = CrawlConfig(order=3, per_host_quota=40, max_hops=10,
                      score_mode="join", lm_refresh_every=1)
    seed_counts = _counts_df(spark, lm)
    seed_total = seed_counts.agg(F.sum("cnt")).collect()[0][0]
    ckpt = str(tmp_path / "ckpt")
    run1 = run_crawl(spark, pages, corpus.seeds, scorer, 2, cfg,
                     lm_counts=seed_counts, checkpoint_dir=ckpt)
    assert len(run1.metrics) == 2
    store = CheckpointStore(ckpt)
    persisted = store.latest_lm_counts(spark)
    assert persisted is not None
    grown_total = persisted.agg(F.sum("cnt")).collect()[0][0]
    # focused pages were folded in: the committed table strictly outgrew
    # the seed table
    assert grown_total > seed_total
    # resume continues on the refreshed LM (passing a deliberately wrong
    # seed table proves resume PREFERS the persisted one: the crawl would
    # otherwise rescore against one unigram and change every decision)
    tiny = spark.createDataFrame([("the", 1, 1)], "ngram string, n int, cnt long")
    run2 = run_crawl(spark, pages, corpus.seeds, scorer, 4, cfg,
                     lm_counts=tiny, checkpoint_dir=ckpt)
    assert len(run2.metrics) == 2  # rounds 3 and 4 only
    again = store.latest_lm_counts(spark)
    assert again.agg(F.sum("cnt")).collect()[0][0] >= grown_total


def test_refresh_requires_join_mode(spark):
    cfg = CrawlConfig(order=3, lm_refresh_every=2)  # broadcast score_mode
    with pytest.raises(ValueError, match="lm_refresh_every"):
        run_crawl(spark, None, ["http://x/"], None, 1, cfg)
