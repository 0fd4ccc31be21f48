"""Benchmark of the paper's npm dependency-count pipeline.

    python3 perfbench/run.py --workload batch_docs --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, sets up (median of several set-ups), times passes of the
flagship for ``--seconds``, checks every pass against the plain-Python
oracle and prints one JSON object as the last line of standard output.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced command in ``layers.py`` and reports the per-layer metrics.
Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

import harness


def end_to_end(workload: harness.Workload, seed: int, seconds: float) -> dict:
    n_cpus = harness.cpus()
    setup = harness.set_up(workload, seed, n_cpus)
    walls = harness.measure(setup.runner, seconds)
    harness.shutdown(setup.spark)
    print(f"set-ups {[round(s, 2) for s in setup.seconds]} s, timed passes {[round(w, 3) for w in walls]} s", file=sys.stderr)
    metrics = {
        "setup_s": (statistics.median(setup.seconds), "s"),
        "wall_s": (statistics.median(walls), "s"),
    }
    return {
        "correct": setup.failed == 0,
        "attempted": setup.attempted,
        "failed": setup.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(harness.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(harness.REPO, harness.PACKAGE)):
        print(f"error: {harness.PACKAGE}/ not found next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    harness.clean_work()
    harness.prepare_environment()
    workload = harness.WORKLOADS[args.workload]
    try:
        if args.trace:
            import layers

            result = layers.run(workload, args.seed, args.seconds)
        else:
            result = end_to_end(workload, args.seed, args.seconds)
    finally:
        harness.wait_children()
        harness.clean_work()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
