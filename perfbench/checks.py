"""Crawl-output checks: a summary of one crawl, its invariants, pinned
values per workload shape and seed, and the simulator's summary of the
same crawl (the oracle the pins are made from)."""

from __future__ import annotations

import json
import os
from collections import Counter

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
MASK64 = (1 << 64) - 1


def shape_key(w) -> str:
    """Pins are keyed by everything that decides the crawl's output; the
    scoring mode and the commit path are not part of it."""
    return f"{w.shape}-p{w.pages}-l{w.links_per_page}-q{w.per_host_quota}-r{w.rounds}"


def _summary(rounds, seen_n, seen_fp, directives) -> dict:
    return {
        "rounds": [list(r) for r in rounds],
        "expanded": sum(r[0] for r in rounds),
        "scored": sum(r[1] for r in rounds),
        "seen": seen_n,
        "seen_fp": seen_fp,
        "frontier": sum(directives.values()),
        "directives": {str(k): v for k, v in sorted(directives.items())},
    }


def engine_summary(run) -> dict:
    """Summary of a finished ``run_crawl`` (two small Spark jobs)."""
    from pyspark.sql import functions as F

    row = run.state.seen.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("url_hash").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    directives = {
        r["directive"]: r["count"]
        for r in run.state.frontier.groupBy("directive").count().collect()
    }
    rounds = [(m["urls_discovered"], m["fetched"]) for m in run.metrics]
    return _summary(rounds, row["n"], int(row["s"] or 0) & MASK64, directives)


def simulate(w, seed: int):
    """Run ``CrawlSimulator`` on the workload's inputs, round by round.

    Returns (simulator, per-round (discovered, fetched) counts)."""
    from perfbench.workloads import crawl_config, make_corpus, make_lm
    from topicrawler_spark.crawl.simulator import CrawlSimulator
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = make_corpus(w, seed)
    sim = CrawlSimulator(
        corpus.pages, DocumentScorer(make_lm(seed), "kneser-ney"), crawl_config(w)
    )
    sim.seed(corpus.seeds)
    st = sim.state
    per_round = []
    for r in range(1, w.rounds + 1):
        if not st.frontier:
            break
        seen0, fetched0 = len(st.seen), sum(st.host_fetched.values())
        sim.run_round(r)
        per_round.append((len(st.seen) - seen0, sum(st.host_fetched.values()) - fetched0))
    return sim, per_round


def simulator_summary(spark, seen: set[str], frontier_directives, per_round) -> dict:
    """The simulator's crawl in ``engine_summary`` form; the seen
    fingerprint hashes the simulator's canonical URLs with the engine's
    ``url_hash64`` expression."""
    from pyspark.sql import functions as F

    from topicrawler_spark.functions.canonicalize import url_hash64

    canons = spark.createDataFrame([(c,) for c in sorted(seen)], "canon string")
    s = canons.select(url_hash64(F.col("canon")).cast("decimal(38,0)").alias("h")).agg(
        F.sum("h")
    ).collect()[0][0]
    return _summary(per_round, len(seen), int(s or 0) & MASK64, Counter(frontier_directives))


def load_pins() -> dict:
    if not os.path.exists(PINS_PATH):
        return {}
    with open(PINS_PATH) as f:
        return json.load(f)


def check(summary: dict, w, seed: int, n_seeds: int, pins: dict) -> list[str]:
    """Problems with one crawl's summary (empty = the output is correct).

    Invariants hold for every seed; the pinned values (simulator output)
    exist for the seeds ``pin.py`` recorded."""
    problems = []
    if len(summary["rounds"]) != w.rounds:
        problems.append(f"ran {len(summary['rounds'])} rounds, want {w.rounds}")
    if summary["seen"] != n_seeds + summary["expanded"]:
        problems.append(
            f"seen {summary['seen']} != distinct seeds {n_seeds} + expanded "
            f"{summary['expanded']}"
        )
    if summary["frontier"] > summary["seen"]:
        problems.append("frontier larger than the seen set")
    pinned = pins.get(shape_key(w), {}).get(str(seed))
    if pinned is not None and pinned != summary:
        problems.append(f"output differs from pin: got {summary}, pinned {pinned}")
    return problems
