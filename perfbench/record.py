"""Baseline record: untraced runs of every benchmark workload plus one traced
run each, bracketed by box-calibration samples.

Usage (from the repository root):

    python3 perfbench/record.py [--runs 10] [--first-seed 0]
    python3 perfbench/record.py --compose   # rebuild BASELINE.md only

For each workload in BENCHMARK.json: a calibration sample
(``scripts/scaling_bench.py::hw_rate``, 4 processes), ``--runs`` untraced
runs with seeds ``first-seed ..``, another calibration sample, one traced
run, and one untraced run with a ``CURVE_SECONDS`` window, whose
back-to-back timed crawls show how far the benchmark's crawl is from JIT
steady state. Writes ``perfbench/baseline.json`` (every run's result) and
``perfbench/BASELINE.md`` (median, quartiles and spread per end-to-end
metric, the traced layer table, the calibration brackets).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CURVE_SECONDS = 120
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "scripts"))


def one_run(spec: dict, workload: str, seed: int, trace: int, seconds: int | None = None) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds or spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return {
        "seed": seed, "trace": trace, "process_wall_s": wall,
        "detail": json.loads(lines[-2]), "result": json.loads(lines[-1]),
    }


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


NOTES = """
## Method

- One run is one process, `python3 perfbench/run.py --workload W --seed S
  --seconds 20 --trace 0|1`, at local[4]: Spark session, set-up (corpus,
  topic LM, scorer, prepared page store), one untimed 1-round warm-up crawl,
  then timed full crawls back to back while the next one fits in the
  `--seconds` window (one crawl at these sizes), then the output check.
- `urls_per_s`: (URLs expanded + pages scored) / wall of the timed crawl
  (median over timed crawls). `setup_s`: process start until the first
  `run_crawl` call. `peak_rss_mb`: VmHWM summed over the process tree
  (driver Python, JVM, Python workers) at the end of the run.
  `success_rate`: 1 - (crawls that raised + failed output checks) / rounds
  attempted; the run's `error_rate` and `warmup_s` are in its detail line.
- Output check of every timed crawl: rounds run, seen set = distinct seeds
  + URLs expanded, frontier no larger than the seen set, the same summary as
  the run's other crawls and the warm-up's round, and, for seeds 0-39 and
  777, the pinned summary (`pins.json`, written by `pin.py` from
  `CrawlSimulator`): per-round (discovered, fetched), totals, seen-set size,
  seen fingerprint (sum of `url_hash` mod 2^64), frontier size and
  directive histogram. `smoke.py` checks fetch order and seen set against
  the simulator on a reduced instance of each workload, and that
  `focus-join` crawls exactly like `focus-broadcast`.
- Held-out seed: **777**. No run used it while the benchmark was tuned; use
  it to re-check a claim made on other seeds.
- Per-layer metrics come from a separate `--trace 1` run: wrappers around
  the driver's calls into `run_round`, `build_robots_table`,
  `CheckpointStore.commit_round`/`resume` and `build_join_scorer`; the
  session's Spark event log over the traced crawl's window; a
  single-process microbenchmark of the per-page functions over 120
  host-ordered pages. Each stage goes to the first bucket (arrow_pass,
  checkpoint, window, join, aggregate, other) that its executed operators
  match; executed operators are the SQL plan nodes whose metric
  accumulators its tasks updated, plus `checkpoint` when the stage
  materializes a localCheckpoint leaf or writes checkpoint-store files.
  (RDD operator scopes alone cannot do this: whole-stage codegen hides
  joins and aggregates, and every stage that reads a checkpoint leaf
  carries the checkpoint scope.) The bucket task-seconds sum to
  `spark.task_s`. `trace.overhead` compares the traced crawl with the plain
  crawls before and after it in the same session.

## Why these sizes

A full pass of the benchmark (4 + 22 runs per workload) has a 3420 s
budget, so with two workloads a run may average at most 71 s. On the
4-vCPU reference VM a run pays 7-12 s of session start, 8-13 s of cold
page-store preparation and a 12-20 s cold warm-up round before its first
timed crawl; the timed crawl is therefore 2 rounds at 3000
(focus-broadcast) and 1500 (wide-frontier-ckpt) pages, and `focus-join`
(same crawl, join scoring) is not in BENCHMARK.json: a third workload would
leave 48 s per run. It stays runnable (`--workload focus-join`) and
`smoke.py` checks it.

The warm-up curves below show the cost of that budget: crawls keep
speeding up for three to five crawls while the JIT compiles (a probe
measured 44 s, 22 s, 15 s, 8 s, 6 s of JIT compile time in the first five
2-round crawls of one process), so the timed crawl is warm but not at
steady state: it is 25-40% slower than the process's later crawls.
The VM's speed drifts under sustained load: in each 10-run set below the
runs get slower over the set, and the hw_rate sample after the set
is lower than the one before it (by a third for focus-broadcast). Most of
the urls_per_s spread is this drift; a single Python-loop or short Spark
calibration job did not track it closely enough to normalize by.
"""


def compose(spec: dict, record: dict) -> str:
    out = [
        "# Crawl-loop benchmark: baseline record",
        "",
        f"Recorded {record['date']} at local[4] on a {os.cpu_count()}-CPU VM "
        f"(`nproc` = {os.cpu_count()}); run_seconds = {spec['run_seconds']}.",
        "Calibration: `scripts/scaling_bench.py::hw_rate(4)`, aggregate work "
        "rate of 4 CPU-bound Python processes, sampled before and after each "
        "workload's untraced runs.",
        NOTES,
    ]
    for wl in spec["workloads"]:
        rec = record["workloads"][wl["name"]]
        runs = rec["untraced"]
        out += [
            f"## {wl['name']}",
            "",
            f"Why: {wl['why']}.",
            "",
            f"Calibration before/after: {rec['hw_before']:.3f} / {rec['hw_after']:.3f}. "
            f"Seeds {runs[0]['seed']}..{runs[-1]['seed']}; "
            f"{sum(r['result']['correct'] for r in runs)}/{len(runs)} runs passed the "
            "output check; mean process wall "
            f"{statistics.mean(r['process_wall_s'] for r in runs):.1f} s.",
            "",
            "| metric | unit | median | q1 | q3 | IQR/median | bound |",
            "|---|---|---|---|---|---|---|",
        ]
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            out.append(
                f"| {m['name']} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                f"| {sp:.3f} | {m['bound']} |"
            )
        warm = [r["detail"]["warmup_s"] for r in runs]
        med, q1, q3, sp = spread(warm)
        curve = rec["curve"]["detail"]
        out += [
            f"| (detail) warmup_s | s | {med:.4g} | {q1:.4g} | {q3:.4g} | {sp:.3f} | — |",
            "",
            f"Warm-up curve (seed {rec['curve']['seed']}, one process, {CURVE_SECONDS} s "
            f"window): warm-up {curve['warmup_s']:.1f} s, then timed crawls of "
            + ", ".join(f"{x:.1f}" for x in curve["timed_walls_s"])
            + " s.",
            "",
            f"Traced run (seed {rec['traced']['seed']}):",
            "",
            "| per-layer metric | unit | value |",
            "|---|---|---|",
        ]
        for name, v in rec["traced"]["result"]["metrics"].items():
            out.append(f"| {name} | {v['unit']} | {v['value']:.4g} |")
        out.append("")
    return "\n".join(out)


def main() -> None:
    from scaling_bench import hw_rate

    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=0)
    ap.add_argument("--compose", action="store_true", help="rebuild BASELINE.md only")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.compose:
        with open(os.path.join(HERE, "baseline.json")) as f:
            record = json.load(f)
        with open(os.path.join(HERE, "BASELINE.md"), "w") as f:
            f.write(compose(spec, record))
        return
    record = {"date": time.strftime("%Y-%m-%d"), "workloads": {}}
    for wl in spec["workloads"]:
        name = wl["name"]
        rec = {"hw_before": hw_rate(4), "untraced": []}
        for i in range(args.runs):
            r = one_run(spec, name, args.first_seed + i, 0)
            rec["untraced"].append(r)
            print(name, r["seed"], r["result"], flush=True)
        rec["hw_after"] = hw_rate(4)
        rec["traced"] = one_run(spec, name, args.first_seed, 1)
        rec["curve"] = one_run(spec, name, args.first_seed, 0, CURVE_SECONDS)
        record["workloads"][name] = rec
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    with open(os.path.join(HERE, "BASELINE.md"), "w") as f:
        f.write(compose(spec, record))
    print(compose(spec, record))


if __name__ == "__main__":
    main()
