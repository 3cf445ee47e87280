"""Per-layer measurement from outside the program.

Three sources:

- ``Spans``: timing wrappers around the crawl driver's calls into its
  layers (``run_round``, ``build_robots_table``, ``CheckpointStore``,
  ``build_join_scorer``), installed only for the traced crawl;
- ``spark_layers``: the Spark event log of the benchmark's session,
  restricted to the traced crawl's time window;
- ``micro``: a single-process microbenchmark of the per-page Python
  functions over a host-ordered sample of the workload's pages.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import statistics
import time
from collections import defaultdict

# ---------------------------------------------------------------- wrappers


class Spans:
    """Wall-clock spans (name, start, end) around patched callables."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        spans = self.spans

        def timed(*a, **kw):
            t0 = time.time()
            try:
                return orig(*a, **kw)
            finally:
                spans.append((name, t0, time.time()))

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def install(self) -> "Spans":
        from topicrawler_spark.crawl import driver
        from topicrawler_spark.crawl.checkpoint import CheckpointStore
        from topicrawler_spark.lm import perplexity

        self.wrap(driver, "run_round", "run_round")
        self.wrap(driver, "build_robots_table", "build_robots_table")
        self.wrap(CheckpointStore, "commit_round", "commit_round")
        self.wrap(CheckpointStore, "resume", "resume")
        # run_crawl imports build_join_scorer at call time, so the module
        # attribute is the one it calls
        self.wrap(perplexity, "build_join_scorer", "build_join_scorer")
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name)

    def driver_layers(self, t_enter: float, t_return: float) -> dict[str, float]:
        """Layer times of one crawl that ran from ``t_enter`` to ``t_return``."""
        rounds = sorted((s, e) for n, s, e in self.spans if n == "run_round")
        starts = [s for s, _ in rounds]
        gaps = [b - a for a, b in zip(starts, starts[1:] + [t_return])]
        plans = [e - s for s, e in rounds]
        return {
            "crawl.driver.pre_round_s": (starts[0] if starts else t_return) - t_enter,
            "crawl.driver.round_wall_s_p50": statistics.median(gaps) if gaps else 0.0,
            "crawl.driver.round_wall_s_max": max(gaps, default=0.0),
            "crawl.round.plan_s": sum(plans),
            "crawl.round.plan_s_p50": statistics.median(plans) if plans else 0.0,
            "crawl.checkpoint.commit_s": self.total("commit_round"),
            "crawl.checkpoint.resume_s": self.total("resume"),
            "crawl.robots.build_s": self.total("build_robots_table"),
            "lm.build_join_scorer_s": self.total("build_join_scorer"),
        }


def dir_mb(path: str | None) -> float:
    if not path or not os.path.isdir(path):
        return 0.0
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total / 2**20


# --------------------------------------------------------------- event log

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython")
# the round's per-page Python pass (functions/udfs.py); the other Python
# nodes on the crawl path are the robots parse and the robots gate
PAGE_UDFS = ("page_process(", "page_ngrams(")
BUCKETS = ("arrow_pass", "checkpoint", "window", "join", "aggregate", "other")


def _bucket(ops: set[str]) -> str:
    if ops & set(PYTHON_NODES):
        return "arrow_pass"
    if "checkpoint" in ops:
        return "checkpoint"
    if ops & {"Window", "WindowGroupLimit"}:
        return "window"
    if any(o.endswith("Join") for o in ops):
        return "join"
    if any(o.endswith("Aggregate") for o in ops):
        return "aggregate"
    return "other"


def _scope(rdd: dict) -> str:
    s = rdd.get("Scope")
    return json.loads(s)["name"] if s else ""


def _writes_checkpoint(rdds: list[dict]) -> bool:
    """The stage materializes a localCheckpoint leaf (a persisted ``map``
    RDD computed from its lineage, not read back from a LocalCheckpointRDD)
    or writes checkpoint-store files."""
    by_id = {r["RDD ID"]: r for r in rdds}
    for r in rdds:
        if _scope(r) == "WriteFiles":
            return True
        lvl = r["Storage Level"]
        if _scope(r) == "map" and (lvl["Use Memory"] or lvl["Use Disk"]):
            parents = [by_id[p]["Name"] for p in r["Parent IDs"] if p in by_id]
            if parents and "LocalCheckpointRDD" not in parents:
                return True
    return False


def _walk_plan(plan: dict, acc_node: dict[int, tuple[str, bool]]) -> None:
    """accumulator id -> (plan node name, node runs the page UDF)."""
    page = any(u in plan.get("simpleString", "") for u in PAGE_UDFS)
    for m in plan.get("metrics", []):
        acc_node[m["accumulatorId"]] = (plan["nodeName"], page)
    for child in plan.get("children", []):
        _walk_plan(child, acc_node)


def read_events(event_dir: str):
    for root, _, names in os.walk(event_dir):
        for n in sorted(names):
            if n.startswith(".") or n.endswith(".crc") or n.startswith("appstatus"):
                continue
            with open(os.path.join(root, n), errors="replace") as f:
                for line in f:
                    if line.startswith("{"):
                        yield json.loads(line)


def spark_layers(
    event_dir: str, t0: float, t1: float, rounds: int, fetched: int, cores: int
) -> dict[str, float]:
    """Executor-side view of the jobs submitted in [t0, t1] (epoch seconds).

    Each stage goes to the first bucket (``BUCKETS`` order) that its
    executed operators match. Executed operators are the SQL plan nodes
    whose metric accumulators the stage's tasks updated, so a stage that
    only scans a cache or checkpoint leaf is not charged for the operators
    behind it; ``checkpoint`` marks stages that materialize a
    localCheckpoint leaf or write checkpoint-store files."""
    lo, hi = t0 * 1000, t1 * 1000
    acc_node: dict[int, tuple[str, bool]] = {}
    jobs: dict[int, tuple[float, float | None]] = {}
    stage_job: dict[int, int] = {}
    stage_rdds: dict[int, list[dict]] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for ev in read_events(event_dir):
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev["sparkPlanInfo"], acc_node)
        elif kind == "SparkListenerJobStart":
            if lo <= ev["Submission Time"] <= hi:
                jobs[ev["Job ID"]] = (ev["Submission Time"], None)
                for s in ev.get("Stage IDs", []):
                    stage_job[s] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]] = (jobs[ev["Job ID"]][0], ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si["Stage ID"] in stage_job:
                stage_rdds[si["Stage ID"]] = si.get("RDD Info", [])
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] in stage_job:
                tasks[ev["Stage ID"]].append(ev)

    out = {f"{b}.task_s": 0.0 for b in BUCKETS}
    task_s = gc_ms = shuffle_w = shuffle_r = spill = 0.0
    failures = 0
    py_rows = 0
    n_tasks = 0
    page_tails: list[tuple[float, float]] = []  # (stage task-seconds, max/median)
    for sid, evs in tasks.items():
        ops: set[str] = set()
        page_stage = False
        durs = []
        for ev in evs:
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            d = max(ti["Finish Time"] - ti["Launch Time"], 0) / 1000.0
            durs.append(d)
            n_tasks += 1
            if ev["Task End Reason"].get("Reason") != "Success" or ti["Attempt"] > 0:
                failures += 1
            gc_ms += tm.get("JVM GC Time", 0)
            spill += tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics", {})
            sr = tm.get("Shuffle Read Metrics", {})
            shuffle_w += sw.get("Shuffle Bytes Written", 0)
            shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            for a in ti.get("Accumulables", []):
                node, page = acc_node.get(a["ID"], (None, False))
                if node is None:
                    continue
                ops.add(node)
                page_stage |= page
                if page and a.get("Name") == "number of output rows":
                    py_rows += int(a.get("Update") or 0)
        if _writes_checkpoint(stage_rdds.get(sid, [])):
            ops.add("checkpoint")
        bucket = _bucket(ops)
        stage_s = sum(durs)
        out[f"{bucket}.task_s"] += stage_s
        task_s += stage_s
        if page_stage and len(durs) >= cores:
            med = statistics.median(durs)
            if med > 0:
                page_tails.append((stage_s, max(durs) / med))

    # driver idle: time in the window with no job running (interval union)
    idle = 0.0
    cursor = lo
    for start, end in sorted((s, e if e is not None else hi) for s, e in jobs.values()):
        if start > cursor:
            idle += start - cursor
        cursor = max(cursor, end)
    idle += max(hi - cursor, 0.0)

    wall = t1 - t0
    n_stages = len(tasks)
    weight = sum(s for s, _ in page_tails)
    out.update(
        {
            "spark.jobs_per_round": len(jobs) / rounds,
            "spark.stages_per_round": n_stages / rounds,
            "spark.tasks_per_round": n_tasks / rounds,
            "spark.driver_idle_s": idle / 1000.0,
            "spark.task_s": task_s,
            "spark.packing": task_s / (cores * wall) if wall > 0 else 0.0,
            "spark.shuffle_write_mb": shuffle_w / 2**20,
            "spark.shuffle_read_mb": shuffle_r / 2**20,
            "spark.gc_s": gc_ms / 1000.0,
            "spark.spill_mb": spill / 2**20,
            "spark.task_failures": float(failures),
            "arrow_pass.tail_ratio": (
                sum(s * r for s, r in page_tails) / weight if weight > 0 else 0.0
            ),
            "arrow_pass.records_per_fetched": py_rows / fetched if fetched else 0.0,
        }
    )
    return out


# ---------------------------------------------------------- microbenchmark


def page_sample(corpus, seed: int, n: int) -> list[tuple[str, str]]:
    """A fixed sample of content pages, in host order (so the per-host
    memos see a host's pages together, as a scoring task does)."""
    from topicrawler_spark.functions.canonicalize import canonicalize_py, host_classkey_py

    urls = sorted(u for u in corpus.pages if not u.endswith("/robots.txt"))
    picked = random.Random(seed).sample(urls, min(n, len(urls)))
    picked.sort(key=lambda u: (host_classkey_py(canonicalize_py(u)), u))
    return [(u, corpus.pages[u].decode("utf-8", "replace")) for u in picked]


def micro(sample, scorer, score_mode: str, repeats: int = 3) -> dict[str, float]:
    """Per-page microseconds of the Arrow pass's Python functions, each the
    median of ``repeats`` passes with fresh memos."""
    from topicrawler_spark.functions.cleaning import clean_ext
    from topicrawler_spark.functions.jsouptext import extract_text, java_trim
    from topicrawler_spark.functions.outlinks import extract_outlinks
    from topicrawler_spark.lm.ngrams import provider_ngrams
    from topicrawler_spark.seg.sentences import SentenceMaker

    order = scorer.order
    texts = [java_trim(extract_text(h, clean_ext)) for _, h in sample]

    def per_page_us(fn, fresh=lambda: None) -> float:
        runs = []
        for _ in range(repeats):
            arg = fresh()  # state with empty memos, built outside the timing
            t0 = time.perf_counter()
            fn(arg)
            runs.append((time.perf_counter() - t0) / len(sample) * 1e6)
        return statistics.median(runs)

    def extract(_):
        for _, h in sample:
            java_trim(extract_text(h, clean_ext))

    def outlinks(_):
        for u, h in sample:
            extract_outlinks(h, u)

    def fresh_scorer():
        # as a worker gets it: unpickled, memos empty, scoring closure built
        s = pickle.loads(pickle.dumps(scorer))
        s.score
        return s

    def perplexity(s):
        for t in texts:
            s.score_page_text(t)

    def fresh_sentence_maker():
        return SentenceMaker(scorer.sentence_maker.min_length, scorer.language_code)

    def page_ngrams(sm):  # the join-mode page UDF's per-page work, with its gate
        for t in texts:
            gs: list[str] = []
            for s in sm.sentences(t):
                ng = provider_ngrams(s, order, scorer.language_code)
                if len(ng) < 1 or len(ng[-1]) < order:
                    continue
                gs.extend(" ".join(g) for g in ng)

    sm = fresh_sentence_maker()
    sentences = [s for t in texts for s in sm.sentences(t)]
    out = {
        "functions.extract_text_us": per_page_us(extract),
        "functions.extract_outlinks_us": per_page_us(outlinks),
        "lm.perplexity_us": per_page_us(perplexity, fresh_scorer),
        "seg.page_ngrams_us": per_page_us(page_ngrams, fresh_sentence_maker),
        "lm.sentence_reuse": 1.0 - len(set(sentences)) / len(sentences) if sentences else 0.0,
    }
    scoring = "lm.perplexity_us" if score_mode == "broadcast" else "seg.page_ngrams_us"
    out["python_us_per_page"] = (
        out["functions.extract_text_us"] + out["functions.extract_outlinks_us"] + out[scoring]
    )
    return out
