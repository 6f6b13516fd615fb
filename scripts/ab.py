"""Alternating parent/change A/B of the repository benchmark.

Checks out two revisions into ``git worktree``s in a fresh temporary
directory, then runs ``perfbench/run.py`` of each checkout in pairs,
alternating which side runs first, for every workload x seed x pair.
Per end-to-end metric of ``BENCHMARK.json`` it prints each side's
median and quartiles, the number of pairs the change won (ties count
for neither) and the verdict of the paired-run rule:

* ``gain``: the change won at least nine tenths of the pairs and the
  medians differ, in the better direction, by more than the parent's
  interquartile range;
* ``regression``: the change's median is worse than the parent's by
  more than the metric's relative bound;
* ``unresolved``: the parent's own spread (IQR / median) is wider than
  the bound, and not every change run reads better than every parent
  run;
* ``within bound``: none of the above.

The failed-operation share of each side is printed under each table.

    python3 scripts/ab.py --parent HEAD~1 --change HEAD \\
        --workload cdc_small_batches --seeds 1,2 --pairs 5

``--pairs`` counts pairs per (workload, seed). Progress goes to
standard error, the tables and one JSON line with every run to
standard output. The worktrees are removed when the script ends.
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
SIDES = ("parent", "change")


def _git(repo: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", repo, *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) of ``values`` (inclusive method)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def compare(
    parent: list[float], change: list[float], better: str, bound: float
) -> dict:
    """One metric's summary over paired runs (``parent[i]`` and
    ``change[i]`` ran as pair ``i``)."""
    sign = 1.0 if better == "higher" else -1.0  # >0: change is better
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    p_q1, p_med, p_q3 = quartiles(parent)
    c_q1, c_med, c_q3 = quartiles(change)
    gap = sign * (c_med - p_med)
    iqr = p_q3 - p_q1
    if wins >= 0.9 * len(parent) and gap > iqr:
        verdict = "gain"
    elif p_med and -gap / abs(p_med) > bound:
        verdict = "regression"
    elif p_med and iqr / abs(p_med) > bound and not (
        min(sign * c for c in change) > max(sign * p for p in parent)
    ):
        verdict = "unresolved"
    else:
        verdict = "within bound"
    return {
        "parent": {"median": p_med, "q1": p_q1, "q3": p_q3},
        "change": {"median": c_med, "q1": c_q1, "q3": c_q3},
        "wins": wins,
        "pairs": len(parent),
        "verdict": verdict,
    }


def run_once(tree: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced benchmark run in checkout ``tree``; its result
    object, plus its provenance when the run printed one."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{tree}: run.py exited {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    result = json.loads(lines[-1])
    for line in proc.stderr.splitlines():
        if line.startswith('{"provenance"'):
            result["provenance"] = json.loads(line)["provenance"]
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workload", action="append", required=True,
                    help="repeat for several workloads")
    ap.add_argument("--seeds", default="1", help="comma-separated")
    ap.add_argument("--pairs", type=int, default=10,
                    help="pairs per (workload, seed)")
    args = ap.parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",")]

    revs = {
        "parent": _git(ROOT, "rev-parse", "--verify", args.parent),
        "change": _git(ROOT, "rev-parse", "--verify", args.change),
    }
    bench = json.loads(
        _git(ROOT, "show", f"{revs['change']}:BENCHMARK.json")
    )
    seconds = int(bench.get("run_seconds", 12))

    tmp = tempfile.mkdtemp(prefix="ab-")
    trees = {side: os.path.join(tmp, side) for side in SIDES}
    try:
        for side in SIDES:
            _git(ROOT, "worktree", "add", "--detach", trees[side], revs[side])
        runs = []  # one record per pair
        k = 0
        for workload in args.workload:
            for seed in seeds:
                for _ in range(args.pairs):
                    order = SIDES if k % 2 == 0 else SIDES[::-1]
                    k += 1
                    pair = {"workload": workload, "seed": seed,
                            "first": order[0]}
                    for side in order:
                        pair[side] = run_once(trees[side], workload, seed, seconds)
                        print(f"ab: {workload} seed {seed} {side}: "
                              + json.dumps({m: v["value"] for m, v in
                                            pair[side]["metrics"].items()}),
                              file=sys.stderr, flush=True)
                    runs.append(pair)
    finally:
        for side in SIDES:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove",
                            "--force", trees[side]], capture_output=True)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"],
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    for side in SIDES:
        prov = next((r[side].get("provenance") for r in runs
                     if r[side].get("provenance")), None)
        print(f"{side} {revs[side][:12]}: {json.dumps(prov)}")
    for workload in args.workload:
        pairs = [r for r in runs if r["workload"] == workload]
        print(f"\n{workload}: {len(pairs)} pairs, seeds {seeds}")
        print(f"{'metric':<16}{'parent median [q1, q3]':<30}"
              f"{'change median [q1, q3]':<30}{'wins':<8}verdict")
        for m in bench["end_to_end"]:
            name = m["name"]
            if not all(name in r[s]["metrics"] for r in pairs for s in SIDES):
                continue
            vals = {s: [r[s]["metrics"][name]["value"] for r in pairs]
                    for s in SIDES}
            c = compare(vals["parent"], vals["change"], m["better"], m["bound"])
            cell = {s: f"{c[s]['median']:.4g} [{c[s]['q1']:.4g}, "
                       f"{c[s]['q3']:.4g}]" for s in SIDES}
            print(f"{name:<16}{cell['parent']:<30}{cell['change']:<30}"
                  f"{c['wins']}/{c['pairs']:<6}{c['verdict']}")
        for side in SIDES:
            failed = sum(r[side]["failed"] for r in pairs)
            attempted = sum(r[side]["attempted"] for r in pairs)
            wrong = sum(not r[side]["correct"] for r in pairs)
            print(f"  {side}: {failed}/{attempted} operations failed, "
                  f"{wrong} incorrect runs")
    for r in runs:  # the raw runs, without provenance
        for side in SIDES:
            r[side] = {"failed": r[side]["failed"], **{
                m: v["value"] for m, v in r[side]["metrics"].items()}}
    print(json.dumps({"revisions": revs, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
