"""Crawl-loop benchmark: one workload, one run, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload focus-broadcast --seed 1 --seconds 10 --trace 0

One run, in one process at local[4]:

1. set-up: Spark session, corpus, topic LM, scorer, the prepared page
   store (``prepare_pages(...).localCheckpoint``) and, for join scoring,
   the LM count table;
2. warm-up: one untimed crawl of ``WARMUP_ROUNDS`` rounds;
3. timed full crawls back to back while the next one is expected to end
   within ``--seconds`` (at least one);
4. an output check of every crawl (``checks.py``).

``urls_per_s`` is the timed crawls' median (URLs expanded + pages scored)
/ wall; ``setup_s`` is the time from process start to the first
``run_crawl`` call; ``peak_rss_mb`` sums VmHWM over the process tree;
``success_rate`` is 1 - (crawls that raised + failed output checks) /
rounds attempted.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
steps in a session with the Spark event log on, then one crawl inside the
driver-layer timers and one more plain crawl (the tracing overhead compares
the traced crawl with the plain ones on both sides of it), and prints the
per-layer metrics (``trace.py``).
The last stdout line is the result JSON; the line before it carries
details (per-crawl walls, counts, the crawl summary).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
WARMUP_ROUNDS = 1
MICRO_PAGES = 120

E2E_UNITS = {
    "urls_per_s": "urls/s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "success_rate": "ratio",
}


def process_start_time() -> float:
    """Epoch seconds at which this process was created (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024.0


class Setup:
    """One set-up of the workload's inputs, with per-step timings."""

    def __init__(self, spark, w, seed: int) -> None:
        from perfbench.workloads import make_corpus, make_lm
        from topicrawler_spark.crawl.round import prepare_pages
        from topicrawler_spark.datagen import pages_dataframe
        from topicrawler_spark.lm.perplexity import DocumentScorer

        t0 = time.time()
        self.corpus = make_corpus(w, seed)
        t1 = time.time()
        lm = make_lm(seed)
        t2 = time.time()
        self.scorer = DocumentScorer(lm, "kneser-ney")
        self.pages = prepare_pages(pages_dataframe(spark, self.corpus)).localCheckpoint(
            eager=True
        )
        t3 = time.time()
        self.lm_counts = None
        if w.score_mode == "join":
            self.lm_counts = spark.createDataFrame(
                [(g, len(g.split(" ")), c) for g, c in lm.counts.items()],
                "ngram string, n int, cnt long",
            )
        self.times = {
            "datagen.generate_s": t1 - t0,
            "lm.from_texts_s": t2 - t1,
            "crawl.prepare_pages_s": t3 - t2,
        }


class Bench:
    """The run's Spark session and crawl counters."""

    def __init__(self, w, work: str) -> None:
        self.w, self.work = w, work
        self.crawls = 0
        self.rounds = 0
        self.failed = 0

    def session(self, trace: bool):
        from topicrawler_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=8,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def crawl(self, spark, inputs: Setup, rounds: int, checkpoint_dir: str | None = None):
        """One crawl; returns (run or None, wall seconds)."""
        from perfbench.workloads import crawl_config
        from topicrawler_spark.crawl.driver import run_crawl

        self.crawls += 1
        self.rounds += rounds
        t0 = time.time()
        try:
            run = run_crawl(
                spark, inputs.pages, inputs.corpus.seeds, inputs.scorer,
                rounds, crawl_config(self.w), checkpoint_dir=checkpoint_dir,
                collect_metrics=False, pages_prepared=True, lm_counts=inputs.lm_counts,
            )
        except Exception:  # a failed crawl is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            run = None
        self.window = (t0, time.time())  # run_crawl entry and return
        return run, self.window[1] - t0


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def urls_per_s(run, wall: float) -> float:
    expanded = sum(m["urls_discovered"] for m in run.metrics)
    scored = sum(m["fetched"] for m in run.metrics)
    return (expanded + scored) / wall


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, help="override the corpus size (smoke test)")
    ap.add_argument("--rounds", type=int, help="override the crawl length (smoke test)")
    args = ap.parse_args(argv)

    w = WORKLOADS[args.workload]
    if args.pages or args.rounds:
        w = w.scaled(args.pages or w.pages, args.rounds or w.rounds)
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, its Python workers and tempfile all write under the run's
    # work directory; SPARK_GRAFT_CONF would silently change the session
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_GRAFT_CONF", None)
    try:
        detail, result = run(w, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(w, seed: int, seconds: float, trace: bool, work: str):
    t_proc = process_start_time()
    from perfbench import checks
    from perfbench import trace as tr
    from topicrawler_spark.functions.canonicalize import canonicalize_py

    bench = Bench(w, work)
    spark = bench.session(trace)
    t_session = time.time() - t_proc
    inputs = Setup(spark, w, seed)
    setup_s = time.time() - t_proc  # process start until the first run_crawl call
    n_seeds = len({canonicalize_py(s) for s in inputs.corpus.seeds})
    pins = checks.load_pins()
    problems: list[str] = []

    # warm-up: the crawl's first round(s), checked by their counters alone
    warm, warm_s = bench.crawl(spark, inputs, WARMUP_ROUNDS)
    warm_rounds = [[m["urls_discovered"], m["fetched"]] for m in warm.metrics] if warm else []

    def timed_crawl(tag: str):
        """One full crawl plus its output check; returns (run, wall, checkpoint MiB)."""
        ckpt = os.path.join(work, f"ckpt-{bench.crawls}") if w.checkpoint else None
        run_, wall = bench.crawl(spark, inputs, w.rounds, ckpt)
        ckpt_mb = tr.dir_mb(ckpt)
        if run_ is not None:
            s = checks.engine_summary(run_)
            found = checks.check(s, w, seed, n_seeds, pins)
            if s["rounds"][:WARMUP_ROUNDS] != warm_rounds:
                found.append(f"warm-up rounds {warm_rounds} differ from {s['rounds']}")
            if summaries and s != summaries[0]:
                found.append("crawl output differs from the run's first timed crawl")
            summaries.append(s)
            if found:
                bench.failed += 1
                problems.extend(f"{tag} crawl {bench.crawls}: {p}" for p in found)
        if ckpt:  # after the summary, which reads the crawl's state from the store
            shutil.rmtree(ckpt, ignore_errors=True)
        return run_, wall, ckpt_mb

    summaries: list[dict] = []
    rates: list[float] = []
    walls: list[float] = []
    t_measure = time.time()
    while not walls or time.time() - t_measure + walls[-1] <= seconds:
        run_, wall, _ = timed_crawl("timed")
        walls.append(wall)
        if run_ is not None:
            rates.append(urls_per_s(run_, wall))

    layers: dict[str, float] = {}
    if trace:
        layers.update(inputs.times)
        spans = tr.Spans().install()
        try:
            run_, wall, ckpt_mb = timed_crawl("traced")
        finally:
            spans.uninstall()
        t0, t1 = bench.window
        # one more untraced crawl after the traced one, so the overhead
        # compares against crawls on both sides of it (crawls still speed up
        # as the JIT warms)
        after, after_wall, _ = timed_crawl("timed")
        if after is not None:
            rates.append(urls_per_s(after, after_wall))
    peak_rss = tree_peak_rss_mb()
    stop(spark)  # also flushes the event log
    if trace and run_ is not None and rates:
        fetched = sum(m["fetched"] for m in run_.metrics)
        layers.update(spans.driver_layers(t0, t1))
        layers["crawl.checkpoint.bytes_mb"] = ckpt_mb
        layers["trace.overhead"] = 1.0 - urls_per_s(run_, wall) / statistics.median(rates)
        layers.update(
            tr.spark_layers(bench.event_dir, t0, t1, len(run_.metrics), fetched, CORES)
        )
        micro = tr.micro(
            tr.page_sample(inputs.corpus, seed, MICRO_PAGES), inputs.scorer, w.score_mode
        )
        python_s = fetched * micro.pop("python_us_per_page") / 1e6
        layers.update(micro)
        arrow_s = layers["arrow_pass.task_s"]
        layers["arrow_pass.python_share"] = python_s / arrow_s if arrow_s > 0 else 0.0

    error_rate = bench.failed / bench.rounds
    detail = {
        "workload": w.name,
        "seed": seed,
        "pinned": str(seed) in pins.get(checks.shape_key(w), {}),
        "session_s": t_session,
        "setup_steps_s": inputs.times,
        "warmup_s": warm_s,
        "timed_walls_s": walls,
        "urls_per_s_all": rates,
        "error_rate": error_rate,
        "problems": problems,
        "summary": summaries[0] if summaries else None,
    }
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        values = {
            "urls_per_s": statistics.median(rates) if rates else 0.0,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "success_rate": 1.0 - error_rate,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    result = {
        "correct": not problems and bench.failed == 0,
        "attempted": bench.rounds,
        "failed": bench.failed,
        "metrics": metrics,
    }
    return detail, result


def unit_of(name: str) -> str:
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_per_round"):
        return "count/round"
    if name == "spark.task_failures":
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        import topicrawler_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
