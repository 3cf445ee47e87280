"""Benchmark workloads: corpus shape and crawl configuration per name.

Each workload is a pure function of the workload seed: the same seed gives
the same corpus, seed list, topic LM and crawl configuration. The engine
sees only those generated inputs.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    links_per_page: int
    rounds: int
    score_mode: str = "broadcast"
    per_host_quota: int = 100
    checkpoint: bool = False
    # workloads that must produce the same crawl (same corpus and admission
    # rules, another scoring path) share a shape, and so their pinned output
    shape: str = ""

    @property
    def hosts(self) -> int:
        return max(20, self.pages // 100)

    @property
    def seeds(self) -> int:
        return max(8, self.pages // 50)

    def scaled(self, pages: int, rounds: int) -> "Workload":
        """The same shape at another size (the smoke test's toy instance)."""
        return replace(self, pages=pages, rounds=rounds)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # bench.py's corpus shape (Zipf hosts, pages/100 hosts, pages/50
        # seeds, 12 links/page), quota 100, broadcast KN LM, memory commit:
        # the headline configuration
        Workload("focus-broadcast", pages=3000, links_per_page=12, rounds=2, shape="focus"),
        # the same crawl scored by count-table joins (lm/counting.py): a
        # join-scorer change shows here and not on focus-broadcast
        Workload(
            "focus-join", pages=3000, links_per_page=12, rounds=2,
            score_mode="join", shape="focus",
        ),
        # 40 links/page, quota 5, CheckpointStore commit and resume every
        # round: few pages scored, many URLs discovered; fixed per-round and
        # commit cost dominate
        Workload(
            "wide-frontier-ckpt", pages=1500, links_per_page=40, rounds=2,
            per_host_quota=5, checkpoint=True, shape="wide",
        ),
    )
}


def crawl_config(w: Workload):
    from topicrawler_spark.crawl.config import CrawlConfig

    return CrawlConfig(
        order=3,
        per_host_quota=w.per_host_quota,
        max_hops=15,
        score_mode=w.score_mode,
    )


def make_corpus(w: Workload, seed: int):
    from topicrawler_spark.datagen import generate_corpus

    return generate_corpus(
        n_pages=w.pages,
        n_hosts=w.hosts,
        n_seeds=w.seeds,
        seed=seed,
        links_per_page=w.links_per_page,
    )


def make_lm(seed: int):
    from topicrawler_spark.datagen import topic_corpus
    from topicrawler_spark.lm.local import LocalLM

    return LocalLM.from_texts([topic_corpus(seed, 800)], order=3)
