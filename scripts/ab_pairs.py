"""Alternating parent/change pairs of the repository benchmark, one workload.

    python3 scripts/ab_pairs.py --workload serve --base <rev> --pairs 10 --seed 101

Runs ``perfbench/run.py --trace 0`` (the command and run length that
``BENCHMARK.json`` declares) ``--pairs`` times on each side: the parent from
a clean export of ``--base`` (``git archive`` into a temporary directory,
always removed afterwards), the change from this checkout's working tree.
Pair i runs both sides with seed ``--seed + i``, and the side that runs
first alternates from pair to pair. Each run's result line is printed as it
arrives; at the end, per end-to-end metric: each side's median and
quartiles, the pairs the change won (ties count for neither), whether a
gain may be claimed — at least nine tenths of at least ten pairs won, and
the medians further apart than the parent's interquartile range — and the
regression verdict against the metric's relative ``bound``:

- ``unresolved``: the parent's interquartile range exceeds ``bound`` times
  its median, so a regression of that size could not be told from noise —
  unless every change run is better than every parent run;
- ``regressed``: the change median is worse than the parent median by more
  than ``bound`` times the parent median;
- ``held``: otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS, MIN_WIN_SHARE = 10, 0.9


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) of ``xs``; a single value is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], spec: list[dict]) -> dict:
    """Per metric of ``spec`` (BENCHMARK.json's ``end_to_end`` entries):
    each side's quartiles, the change's wins over the pairs where both runs
    report the metric, whether the gain rule holds and the regression
    verdict. ``pairs`` holds (parent, change) metric dicts, name -> value."""
    out = {}
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p[name], c[name]) for p, c in pairs if name in p and name in c]
        if not both:
            continue
        par, chg = [p for p, _ in both], [c for _, c in both]
        pq, cq = quartiles(par), quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        bound = m["bound"] * abs(pq[1])
        all_better = max(chg) < min(par) if lower else min(chg) > max(par)
        if pq[2] - pq[0] > bound and not all_better:
            regression = "unresolved"
        else:
            regression = "regressed" if -gap > bound else "held"
        out[name] = {
            "parent": pq,
            "change": cq,
            "wins": wins,
            "pairs": len(both),
            "gain_holds": len(both) >= MIN_PAIRS
            and wins >= MIN_WIN_SHARE * len(both)
            and gap > pq[2] - pq[0],
            "regression": regression,
        }
    return out


def run_once(root: str, cmd: list[str]) -> dict:
    """One benchmark run from ``root``; its last stdout line, parsed, or a
    record of the failure."""
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "error": proc.stderr[-2000:], "returncode": proc.returncode}


def metric_values(result: dict) -> dict:
    return {k: v["value"] for k, v in result.get("metrics", {}).items()}


def _fmt(q: tuple[float, float, float]) -> str:
    return "median %.4g [q1 %.4g, q3 %.4g]" % (q[1], q[0], q[2])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--base", required=True, help="git revision of the parent")
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tmp = tempfile.mkdtemp(prefix="ab_pairs_base_")
    try:
        archive = subprocess.run(
            ["git", "archive", args.base], cwd=ROOT, capture_output=True, check=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        sides = {"parent": tmp, "change": ROOT}
        pairs, results = [], []
        for i in range(args.pairs):
            seed = args.seed + i
            cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_once(sides[side], cmd)
                results.append({"pair": i, "seed": seed, "side": side, **got[side]})
                print(json.dumps(results[-1]), flush=True)
            pairs.append((metric_values(got["parent"]), metric_values(got["change"])))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    summary = summarize(pairs, bench["end_to_end"])
    for side in ("parent", "change"):
        runs = [r for r in results if r["side"] == side]
        print(f"{side}: {sum(r.get('failed', 0) for r in runs)} failed of "
              f"{sum(r.get('attempted', 0) for r in runs)} operations, "
              f"{sum(not r.get('correct') for r in runs)} incorrect runs")
    for name, s in summary.items():
        print(f"{args.workload} {name}: parent {_fmt(s['parent'])}; change {_fmt(s['change'])}; "
              f"change won {s['wins']}/{s['pairs']}; gain holds: {s['gain_holds']}; "
              f"regression: {s['regression']}")
    print(json.dumps({"workload": args.workload, "base": args.base, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
