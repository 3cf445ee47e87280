"""Round metrics are observed on the jobs a round already runs
(``DataFrame.observe`` on its cached frames), not counted by extra actions.
Every counter must equal an exact recount, made here with plain actions over
what each round returned (its fetch log, results, discovery set, state and
Bloom probe), on the parity corpus at local[4] — where sibling stages racing
a cache fill would show up as double counts."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from topicrawler_spark.crawl import bloom, driver
from topicrawler_spark.crawl.checkpoint import CheckpointStore
from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.priority import HIGH, HIGHEST, MEDIUM, NORMAL
from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
from topicrawler_spark.lm.local import LocalLM
from topicrawler_spark.lm.perplexity import DocumentScorer

ROUNDS = 4
DIRECTIVES = (HIGHEST, HIGH, MEDIUM, NORMAL)
TIMINGS = {"plan_s", "exec_s", "commit_wait_s"}

# name -> (CrawlConfig overrides, commit to a CheckpointStore)
CASES = {
    "memory-broadcast": ({}, False),
    "memory-join": ({"score_mode": "join"}, False),
    "store-broadcast": ({}, True),
    "store-join": ({"score_mode": "join"}, True),
    "memory-bloom": ({"bloom_min_seen": 0}, False),
    # at-scale plans (AQE on) and a lifetime budget of 1 page per host:
    # the late rounds admit nothing, so AQE meets empty stages
    "memory-at-scale-exhausted": (
        {
            "salt_min_frontier": 0,
            "seen_broadcast_max": 0,
            "ordinal_single_max": 0,
            "fetch_broadcast_max": 0,
            "queue_total_budget": 1,
        },
        False,
    ),
}


@pytest.fixture(scope="module")
def setup(spark):
    corpus = generate_corpus(n_pages=120, n_hosts=8, n_seeds=3, seed=42)
    lm = LocalLM.from_texts([topic_corpus(42)], order=3)
    lm_counts = spark.createDataFrame(
        [(g, len(g.split(" ")), c) for g, c in lm.counts.items()],
        "ngram string, n int, cnt long",
    )
    cfg = CrawlConfig(order=3, per_host_quota=3, max_hops=10, round_ms=1000)
    return corpus, DocumentScorer(lm, "kneser-ney"), cfg, lm_counts


@pytest.fixture
def captured(monkeypatch):
    """Record each round's (state in, state out, result) and Bloom probe.

    The round's caches are kept past its commit, so the recount reads the
    very rows the observations saw: a recomputed join-scored perplexity may
    differ in its last bits (its float sums are not order-stable)."""
    rounds, probes, caches = [], [], []
    real_round, real_probe = driver.run_round, bloom.bloom_probe

    def run_round(spark, state, *args, **kwargs):
        new_state, result = real_round(spark, state, *args, **kwargs)
        rounds.append((state, new_state, result))
        caches.extend(result.cached)
        result.cached = ()
        return new_state, result

    def bloom_probe(*args, **kwargs):
        probed = real_probe(*args, **kwargs)
        probes.append(probed)
        return probed

    monkeypatch.setattr(driver, "run_round", run_round)
    monkeypatch.setattr(bloom, "bloom_probe", bloom_probe)
    yield rounds, probes
    for df in caches:
        df.unpersist()


def _fetched_total(state) -> int:
    return state.host_fetched.agg(F.coalesce(F.sum("fetched"), F.lit(0))).first()[0]


def _recount(state_in, state_out, result, probed) -> dict:
    perp = F.col("perp")
    stats = result.results.agg(
        F.count(F.lit(1)).alias("scored"),
        F.min(F.when(perp > 0, perp)).alias("perp_min"),
        F.max(perp).alias("perp_max"),
        F.avg(F.when(perp > 0, perp)).alias("perp_avg"),
        F.count(F.when(perp <= 1, 1)).alias("n_rejected_pages"),
    ).first().asDict()
    directives = {
        r["directive"]: r["c"]
        for r in result.discovered.groupBy("directive")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert set(directives) <= set(DIRECTIVES)
    want = {
        "admitted": result.fetch_log.count(),
        "fetched": _fetched_total(state_out) - _fetched_total(state_in),
        **stats,
        "urls_discovered": sum(directives.values()),
        **{f"n_directive_{d}": directives.get(d, 0) for d in DIRECTIVES},
    }
    if probed is not None:
        maybe = F.col("_maybe_seen")
        want["bloom_fresh"] = probed.filter(~maybe).count()
        want["bloom_suspect"] = probed.filter(maybe).count()
    return want


@pytest.mark.parametrize("case", list(CASES))
def test_round_metrics_equal_exact_recount(spark, setup, captured, case, tmp_path):
    corpus, scorer, cfg, lm_counts = setup
    overrides, use_store = CASES[case]
    ckpt = str(tmp_path / "ckpt") if use_store else None
    run = driver.run_crawl(
        spark, pages_dataframe(spark, corpus), corpus.seeds, scorer, ROUNDS,
        replace(cfg, **overrides), checkpoint_dir=ckpt, lm_counts=lm_counts,
    )
    rounds, probes = captured
    assert len(run.metrics) == len(rounds) == ROUNDS
    if "bloom_min_seen" in overrides:
        assert len(probes) == ROUNDS
    else:
        assert probes == []
        probes = [None] * ROUNDS
    for (state_in, state_out, result), probed, got in zip(rounds, probes, run.metrics):
        want = _recount(state_in, state_out, result, probed)
        assert set(got) == set(want) | TIMINGS | {"round"}
        for key, value in want.items():
            if key == "perp_avg" and value is not None:
                assert got[key] == pytest.approx(value, rel=1e-12)
            else:
                assert got[key] == value, (result.metrics["round"], key)
        assert all(got[t] >= 0 for t in TIMINGS)
    assert sum(m["urls_discovered"] for m in run.metrics) > 0
    if overrides.get("queue_total_budget"):
        assert run.metrics[-1]["admitted"] == 0
    if use_store:
        store = CheckpointStore(ckpt)
        assert [store.metrics(r) for r in range(1, ROUNDS + 1)] == run.metrics


def test_observation_on_cache_reports_its_fill_once(spark):
    """The property the round metrics rest on: an observed frame under a
    cache reports on the job that fills the cache (here a job over a
    downstream frame), and rescans of the built cache never add to it."""
    obs = Observation()
    base = spark.range(0, 1000, numPartitions=8).observe(obs, F.count(F.lit(1)).alias("n"))
    base.cache()
    try:
        assert base.filter(F.col("id") % 2 == 0).groupBy().count().first()[0] == 500
        base.count()
        base.collect()
        assert obs.get == {"n": 1000}
    finally:
        base.unpersist()
