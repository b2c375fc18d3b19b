"""Paired benchmark runs: the parent commit against the working tree.

    python3 tools/perf_pairs.py --workload web-extract --seeds 101-110 --seconds 30

Runs ``perfbench/run.py`` once per seed on each side, alternating which
side goes first from pair to pair, then prints, for every metric and
workload: each side's median and quartiles, how many pairs the change won
(ties count for neither side), the parent's IQR, and whether a gain may be
claimed. A gain needs the change to win at least nine tenths of the pairs
AND the medians to differ by more than the parent's IQR (the distance
between its quartiles), with at least ten pairs behind it; and each
side's failed operations, since a gain does not count when more fail.

The parent side runs from a ``git worktree`` of ``--parent`` (default
``HEAD``: the working tree's uncommitted change against its base; pass
``HEAD~1`` once the change is committed), created in a temp dir and
removed at exit, or from an existing checkout given with ``--parent-dir``.
Every run's result line is appended to ``--out`` as JSON when given.
Metric directions come from ``BENCHMARK.json``; ``--trace 1`` compares the
per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """``"5,7,10-12"`` -> ``[5, 7, 10, 11, 12]``."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """One perfbench run in ``tree``: its result object, or None when the
    run printed no result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True, check=False)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        return None
    result = json.loads(lines[-1])
    return result if "metrics" in result else None


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    """Per metric over (parent, change) result pairs: each side's quartiles,
    the change's wins, the parent IQR and whether a gain may be claimed."""
    rows = []
    for name, direction in better.items():
        got = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
               for p, c in pairs if name in p["metrics"] and name in c["metrics"]]
        if not got:
            continue
        par = [p for p, _ in got]
        chg = [c for _, c in got]
        sign = 1 if direction == "higher" else -1
        wins = sum(sign * (c - p) > 0 for p, c in got)
        losses = sum(sign * (c - p) < 0 for p, c in got)
        pq, cq = quartiles(par), quartiles(chg)
        iqr = pq[2] - pq[0]
        gain = sign * (cq[1] - pq[1])
        rows.append({
            "metric": name, "better": direction, "pairs": len(got),
            "parent": pq, "change": cq, "wins": wins, "losses": losses,
            "parent_iqr": iqr,
            "claim": len(got) >= 10 and wins >= 0.9 * len(got) and gain > iqr,
        })
    return rows


def quartiles(values: list[float]) -> list[float]:
    """[q1, median, q3] (inclusive method; one value repeats itself)."""
    if len(values) == 1:
        return values * 3
    return statistics.quantiles(values, n=4, method="inclusive")


def report(workload: str, rows: list[dict]) -> str:
    out = ["== %s" % workload,
           "%-34s %27s %27s %6s %10s  claim" % ("metric", "parent q1/med/q3",
                                                "change q1/med/q3", "wins", "parent IQR")]
    for r in rows:
        out.append("%-34s %27s %27s %6s %10.4g  %s" % (
            r["metric"], "/".join("%.4g" % v for v in r["parent"]),
            "/".join("%.4g" % v for v in r["change"]),
            "%d/%d" % (r["wins"], r["pairs"]), r["parent_iqr"],
            "yes" if r["claim"] else "no"))
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True,
                    help="repeat for several workloads")
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 5,7,9")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parent", default="HEAD", help="git revision of the parent side")
    ap.add_argument("--parent-dir", help="an existing checkout of the parent instead")
    ap.add_argument("--out", help="append every run's result line here (JSON lines)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    section = "per_layer" if args.trace else "end_to_end"
    better = {m["name"]: m["better"] for m in spec[section]}
    seeds = parse_seeds(args.seeds)

    worktree = None
    parent_dir = args.parent_dir
    if parent_dir is None:
        worktree = tempfile.mkdtemp(prefix="perf-pairs-parent-")
        subprocess.run(["git", "worktree", "add", "--detach", worktree, args.parent],
                       cwd=ROOT, check=True)
        parent_dir = worktree
    try:
        for workload in args.workload:
            pairs = []
            for i, seed in enumerate(seeds):
                sides = [("parent", parent_dir), ("change", ROOT)]
                if i % 2:
                    sides.reverse()
                got = {}
                for side, tree in sides:
                    print("[perf_pairs] %s seed %d %s" % (workload, seed, side),
                          file=sys.stderr, flush=True)
                    got[side] = run_once(tree, workload, seed, args.seconds, args.trace)
                    if args.out:
                        with open(args.out, "a") as f:
                            f.write(json.dumps({"workload": workload, "seed": seed,
                                                "side": side, "result": got[side]}) + "\n")
                if got["parent"] is None or got["change"] is None:
                    print("[perf_pairs] seed %d: a run printed no result; pair dropped" % seed,
                          file=sys.stderr, flush=True)
                    continue
                pairs.append((got["parent"], got["change"]))
            print(report(workload, summarize(pairs, better)), flush=True)
            for i, side in enumerate(("parent", "change")):
                print("%s: %d/%d operations failed over %d runs" % (
                    side, sum(p[i]["failed"] for p in pairs),
                    sum(p[i]["attempted"] for p in pairs), len(pairs)), flush=True)
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=ROOT, check=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
