"""Record the pinned crawl outputs that every benchmark run is checked
against, from the reference simulator (``crawl/simulator.py``).

Usage (from the repository root):

    python3 perfbench/pin.py 0-63 9001

For every workload shape (``checks.shape_key``) and every listed seed,
the simulator crawls the full-size workload and its summary is stored in
``perfbench/pins.json``. Re-run after changing a workload's shape.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _simulate(job):
    name, seed = job
    sim, per_round = checks.simulate(WORKLOADS[name], seed)
    return name, seed, sorted(sim.state.seen), [e.directive for e in sim.state.frontier], per_round


def parse_seeds(args: list[str]) -> list[int]:
    seeds = []
    for a in args:
        lo, _, hi = a.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main() -> None:
    from topicrawler_spark.session import get_spark

    seeds = parse_seeds(sys.argv[1:])
    shapes = {}
    for w in WORKLOADS.values():
        shapes.setdefault(checks.shape_key(w), w.name)
    jobs = [(name, seed) for name in shapes.values() for seed in seeds]
    with mp.get_context("spawn").Pool(min(4, os.cpu_count() or 1)) as pool:
        results = pool.map(_simulate, jobs)
    spark = get_spark(app_name="perfbench-pin", master="local[1]")
    pins = checks.load_pins()
    for name, seed, seen, directives, per_round in results:
        key = checks.shape_key(WORKLOADS[name])
        pins.setdefault(key, {})[str(seed)] = checks.simulator_summary(
            spark, set(seen), directives, per_round
        )
    spark.stop()
    with open(checks.PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(results)} crawls in {checks.PINS_PATH}")


if __name__ == "__main__":
    main()
