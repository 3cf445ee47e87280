"""The benchmark's own smoke test, at toy size.

Usage (from the repository root):

    python3 perfbench/smoke.py

1. Parity: a reduced instance of every workload crawls in the engine and
   in ``CrawlSimulator``; fetch order (from a checkpoint store's fetch log),
   seen set and crawl summary must match, and ``focus-join`` must produce
   ``focus-broadcast``'s crawl.
2. Contract: ``run.py`` at toy size, for every workload in BENCHMARK.json,
   with ``--trace 0`` and ``--trace 1``: the result line has exactly the
   contract keys, every end-to-end metric (untraced) and every per-layer
   metric (traced) with its unit, and a passing output check.

Exits non-zero on the first failure. Takes several minutes: every Spark
session and crawl round has a fixed cost of seconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TOY_PAGES = 300
TOY_ROUNDS = 3
SEED = 5


def parity() -> None:
    from perfbench import checks
    from perfbench.workloads import WORKLOADS, crawl_config, make_corpus, make_lm
    from topicrawler_spark.crawl.checkpoint import CheckpointStore
    from topicrawler_spark.crawl.driver import run_crawl
    from topicrawler_spark.datagen import pages_dataframe
    from topicrawler_spark.lm.perplexity import DocumentScorer
    from topicrawler_spark.session import get_spark

    spark = get_spark(app_name="perfbench-smoke", master="local[4]", shuffle_partitions=8)
    summaries = {}
    try:
        for name, w0 in WORKLOADS.items():
            w = w0.scaled(TOY_PAGES, TOY_ROUNDS)
            corpus = make_corpus(w, SEED)
            lm = make_lm(SEED)
            scorer = DocumentScorer(lm, "kneser-ney")
            lm_counts = None
            if w.score_mode == "join":
                lm_counts = spark.createDataFrame(
                    [(g, len(g.split(" ")), c) for g, c in lm.counts.items()],
                    "ngram string, n int, cnt long",
                )
            pages = pages_dataframe(spark, corpus)
            sim, per_round = checks.simulate(w, SEED)
            st = sim.state
            want = checks.simulator_summary(
                spark, st.seen, [e.directive for e in st.frontier], per_round
            )
            os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
            with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as d:
                # the workload's own commit path and, unless that is already
                # the store, a store run for the fetch log
                store = os.path.join(d, "store")
                for ckpt in ([store] if w.checkpoint else [None, store]):
                    run = run_crawl(
                        spark, pages, corpus.seeds, scorer, w.rounds, crawl_config(w),
                        checkpoint_dir=ckpt, collect_metrics=False, lm_counts=lm_counts,
                    )
                    got = checks.engine_summary(run)
                    assert got == want, f"{name}: engine {got} != simulator {want}"
                    seen = {r["canon"] for r in run.state.seen.collect()}
                    assert seen == st.seen, f"{name}: seen set differs from the simulator"
                log = sorted(
                    (x["round"], x["host"], x["host_rank"], x["canon"])
                    for r in range(1, w.rounds + 1)
                    for x in CheckpointStore(store).read(spark, r, "fetch_log").collect()
                )
                assert log == sorted(st.fetch_log), f"{name}: fetch order differs"
            summaries[name] = got
            print(f"parity ok: {name} {got['rounds']}", flush=True)
    finally:
        spark.stop()
    assert summaries["focus-join"] == summaries["focus-broadcast"], "join != broadcast"
    print("parity ok: focus-join crawl equals focus-broadcast", flush=True)


def contract() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in spec["workloads"]:
        for trace, wanted in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            cmd = spec["command"] + [
                "--workload", wl["name"], "--seed", str(SEED), "--seconds", "1",
                "--trace", trace, "--pages", str(TOY_PAGES), "--rounds", "2",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["failed"] == 0, res
            got = res["metrics"]
            for m in wanted:
                assert m["name"] in got, f"{wl['name']} trace={trace}: {m['name']} missing"
                assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
                assert isinstance(got[m["name"]]["value"], (int, float)), got[m["name"]]
            extra = set(got) - {m["name"] for m in wanted}
            assert not extra, f"unlisted metrics: {sorted(extra)}"
            print(f"contract ok: {wl['name']} trace={trace}", flush=True)


if __name__ == "__main__":
    parity()
    contract()
    print("smoke ok")
