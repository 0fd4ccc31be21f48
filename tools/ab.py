"""Interleaved A/B of one arm command over two checkouts.

    python tools/ab.py --parent ../parent --change . --pairs 10 --seed 1 \\
        --out ab.jsonl -- python3 perfbench/run.py --workload stream_replay \\
        --seed {seed} --seconds 15 --trace 0

Pair ``i`` runs the arm once in each checkout with seed ``--seed + i``,
the parent first on even pairs and the change first on odd ones, so
a slow spell on the host lands on both sides. Each run has the checkout as its
working directory, with ``{repo}`` in the command replaced by the
checkout's absolute path and ``{seed}`` by the pair's seed. Arms:
``perfbench/run.py``, ``tools/gate_arm.py`` and ``tools/query_arm.py``
(give the latter two by absolute path: the parent may predate them;
both import ``observability.job_profile`` from the checkout, so neither
runs in a checkout older than that function).

An arm prints one JSON object as its last line of standard output:
``correct``, ``attempted``, ``failed``, ``metrics`` ({name: {value,
unit}}) and an optional ``result`` that must be equal on both sides of a
pair. A non-zero exit or no such line is a failed run. Every run goes to
``--out`` as one JSON line, failed ones included.

For each metric the summary gives each side's median and quartiles
(``statistics.quantiles(n=4)``), the change's wins and ties, and a
verdict from the direction and bound ``BENCHMARK.json`` gives that
metric; a metric it does not list gets none:

- ``gain``: at least 10 pairs ran, the change wins at least 9 of every
  10 of them (a tie, a failed run or a differing ``result`` wins
  nothing), the medians differ
  in the better direction by more than the parent's interquartile range,
  and no more operations failed than at the parent;
- ``regression``: the change's median is worse than the parent's by more
  than the bound, a fraction of the parent's median;
- ``none``: neither.

The exit status is 1 when any pair had a failed run or differing
``result``, else 0.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
MIN_PAIRS = 10  # fewer pairs cannot show 9 wins in 10


def metric_spec(path: str = os.path.join(REPO, "BENCHMARK.json")) -> dict[str, tuple[str, float | None]]:
    """{metric: (better, bound)} from the benchmark declaration; per-layer
    metrics carry a direction but no bound."""
    with open(path) as f:
        bench = json.load(f)
    return {
        m["name"]: (m["better"], m.get("bound"))
        for m in bench.get("end_to_end", []) + bench.get("per_layer", [])
    }


def last_json_line(stdout: str) -> dict | None:
    """The last line of ``stdout`` that parses as a JSON object with
    ``metrics``."""
    for line in reversed(stdout.splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            return obj
    return None


def run_arm(command: list[str], repo: str, seed: int) -> dict:
    """One run of the arm in ``repo``; ``record`` is None when it failed."""
    repo = os.path.abspath(repo)
    argv = [a.replace("{repo}", repo).replace("{seed}", str(seed)) for a in command]
    t0 = time.perf_counter()
    proc = subprocess.run(argv, cwd=repo, capture_output=True, text=True)
    record = last_json_line(proc.stdout) if proc.returncode == 0 else None
    run = {"returncode": proc.returncode, "seconds": round(time.perf_counter() - t0, 3), "record": record}
    if record is None:
        run["error"] = f"exit {proc.returncode}" if proc.returncode else "no JSON line on stdout"
        run["stderr_tail"] = proc.stderr.splitlines()[-5:]
    return run


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return (values[0],) * 3
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def verdict(
    parent: list[float],
    change: list[float],
    wins: int,
    pairs: int,
    better: str,
    bound: float | None,
    more_failures: bool = False,
) -> str:
    """The gain rule and the regression bound over one metric's runs."""
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    gap = p_med - c_med if better == "lower" else c_med - p_med  # > 0: change better
    if pairs >= MIN_PAIRS and 10 * wins >= 9 * pairs and gap > p_q3 - p_q1 and not more_failures:
        return "gain"
    if bound is not None and -gap > bound * abs(p_med):
        return "regression"
    return "none"


def summarize(runs: list[dict], spec: dict[str, tuple[str, float | None]]) -> dict:
    """Per-pair status and per-metric statistics from the raw runs."""
    by_pair: dict[int, dict[str, dict]] = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r
    pairs, bad = [], []
    for i in sorted(by_pair):
        recs = {s: by_pair[i].get(s, {}).get("record") for s in SIDES}
        if None in recs.values():
            status = "failed run: " + ", ".join(s for s in SIDES if recs[s] is None)
        elif recs["parent"].get("result") != recs["change"].get("result"):
            status = "result differs"
        else:
            status = "ok"
        pairs.append((i, status, recs))
        if status != "ok":
            bad.append((i, status))
    ops = {
        s: [sum(rec[s].get(k, 0) for _, _, rec in pairs if rec[s]) for k in ("failed", "attempted")]
        for s in SIDES
    }
    names = sorted({m for _, _, rec in pairs for s in SIDES if rec[s] for m in rec[s]["metrics"]})
    metrics = {}
    for name in names:
        vals = {
            s: [rec[s]["metrics"][name]["value"] for _, _, rec in pairs if rec[s] and name in rec[s]["metrics"]]
            for s in SIDES
        }
        better, bound = spec.get(name, (None, None))
        wins = ties = 0
        for _, status, rec in pairs:
            if status != "ok" or name not in rec["parent"]["metrics"] or name not in rec["change"]["metrics"]:
                continue
            p, c = rec["parent"]["metrics"][name]["value"], rec["change"]["metrics"][name]["value"]
            if p == c:
                ties += 1
            elif better is not None and (c < p) == (better == "lower"):
                wins += 1
        row = {"better": better, "bound": bound, "wins": wins, "ties": ties, "pairs": len(pairs)}
        for s in SIDES:
            row[s] = quartiles(vals[s]) if vals[s] else None
        if better is not None and vals["parent"] and vals["change"]:
            row["verdict"] = verdict(
                vals["parent"], vals["change"], wins, len(pairs), better, bound, ops["change"][0] > ops["parent"][0]
            )
        else:
            row["verdict"] = None
        metrics[name] = row
    return {"pairs": len(pairs), "bad_pairs": bad, "ops": ops, "metrics": metrics}


def report(summary: dict) -> str:
    def fmt(q):
        return "-" if q is None else f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    lines = [f"{'metric':28s} {'better':6s} {'bound':5s} {'parent median [q1, q3]':28s} "
             f"{'change median [q1, q3]':28s} {'wins':>6s} {'ties':>4s} verdict"]
    for name, m in summary["metrics"].items():
        lines.append(
            f"{name:28s} {m['better'] or '-':6s} {m['bound'] if m['bound'] is not None else '-'!s:5s} "
            f"{fmt(m['parent']):28s} {fmt(m['change']):28s} {m['wins']:>3d}/{m['pairs']:<2d} {m['ties']:>4d} "
            f"{m['verdict'] or '-'}"
        )
    for s in SIDES:
        failed, attempted = summary["ops"][s]
        lines.append(f"{s}: {failed}/{attempted} operations failed")
    for i, status in summary["bad_pairs"]:
        lines.append(f"pair {i}: {status}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--parent", required=True, help="checkout of the parent commit")
    parser.add_argument("--change", required=True, help="checkout of the change")
    parser.add_argument("--pairs", type=int, default=10)
    parser.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    parser.add_argument("--out", required=True, help="JSONL file for every raw run (overwritten)")
    parser.add_argument("arm", nargs=argparse.REMAINDER, help="-- then the arm command")
    args = parser.parse_args(argv)
    command = args.arm[1:] if args.arm[:1] == ["--"] else args.arm
    if not command:
        parser.error("no arm command given")
    if args.pairs < 1:
        parser.error("--pairs must be at least 1")
    checkouts = {"parent": args.parent, "change": args.change}
    runs = []
    with open(args.out, "w") as out:
        for i in range(args.pairs):
            seed = args.seed + i
            for order, side in enumerate(SIDES if i % 2 == 0 else SIDES[::-1]):
                run = {"pair": i, "seed": seed, "side": side, "order": order,
                       **run_arm(command, checkouts[side], seed)}
                runs.append(run)
                out.write(json.dumps(run) + "\n")
                out.flush()
                print(f"pair {i} seed {seed} {side}: {run.get('error') or 'ok'} in {run['seconds']} s", file=sys.stderr)
    summary = summarize(runs, metric_spec())
    print(report(summary))
    return 1 if summary["bad_pairs"] else 0


if __name__ == "__main__":
    sys.exit(main())
