#!/usr/bin/env python3
"""perfbench: the watchman_spark benchmark.

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds inputs from ``--seed``, measures for
``--seconds``, checks every output, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and
``--trace 1`` the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_BOOT = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

from harness import ROOT, Outcome, RssSampler, Workdir, stop_spark  # noqa: E402

WORKLOADS = {
    "batch_full": "wl_batch",
    "query_suite": "wl_suite",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "watchman_spark" / "__init__.py").is_file():
        print(f"perfbench: no watchman_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    workload = importlib.import_module(WORKLOADS[args.workload])

    work = Workdir()
    outcome = Outcome()
    values: dict = {}
    try:
        with RssSampler() as rss:
            try:
                values = workload.run(args, work, outcome, T_BOOT)
            except Exception as e:  # noqa: BLE001 - reported as a failed run
                outcome.fail(f"{args.workload}: {type(e).__name__}: {e}")
            rss.sample()
    finally:
        stop_spark()
        work.close()
    values["peak_rss_mb"] = rss.peak_mb
    values["ok_share"] = 1 - outcome.failed / max(outcome.attempted, 1)

    # a metric the workload does not exercise, or could not measure, reads 0
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
        for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    for problem in outcome.problems:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0 and outcome.attempted > 0,
                "attempted": max(outcome.attempted, 1),
                "failed": outcome.failed if outcome.attempted else 1,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
