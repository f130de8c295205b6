"""Run one workload of the CDC benchmark and print its metrics.

    python3 perfbench/run.py --workload sync_batch --seed 1 --seconds 18 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` the per-layer ones. Earlier stdout lines are a readable
summary. Scratch data lives under ``.perfbench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if args.seconds <= 0 or args.seed < 0:
        print("perfbench: --seconds must be positive and --seed non-negative", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "cdc_system_spark")):
        print("perfbench: cdc_system_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    from perfbench import stats, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    bench = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        bench.run()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        detail = bench.detail()
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    metrics = {n: metrics[n] for n in names}
    for note in bench.notes:
        print(f"# {note}")
    print("# detail " + json.dumps(detail))
    print(stats.result_line(bench.failed == 0, bench.attempted, bench.failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
