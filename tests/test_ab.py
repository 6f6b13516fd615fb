"""``scripts/ab.py`` against a fake ``perfbench/run.py`` in a throwaway
git repository: worktrees per revision, alternating order, per-metric
summary and verdict."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
import ab  # noqa: E402

FAKE_RUN = '''
import argparse, json, os, sys
ap = argparse.ArgumentParser()
for a in ("--workload", "--seed", "--seconds", "--trace"):
    ap.add_argument(a)
args = ap.parse_args()
here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
side = open(os.path.join(here, "SIDE")).read().strip()
with open(os.environ["AB_TEST_LOG"], "a") as f:
    f.write(side + "\\n")
latency = (2.0 if side == "parent" else 1.0) + 0.01 * int(args.seed)
print(json.dumps({"provenance": {"side": side}}), file=sys.stderr)
print(json.dumps({"correct": True, "attempted": 3, "failed": 0, "metrics": {
    "latency_p50_s": {"value": latency, "unit": "s"},
    "work_per_s": {"value": 100.0, "unit": "1/s"}}}))
'''

BENCH = {
    "command": ["python3", "perfbench/run.py"], "paths": ["perfbench"],
    "run_seconds": 1, "workloads": [{"name": "w"}],
    "end_to_end": [
        {"name": "latency_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "work_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    ],
}


def _git(repo, *args):
    subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t",
         *args], check=True, capture_output=True,
    )


def test_ab_alternates_and_reports_gain(tmp_path, monkeypatch, capsys):
    repo = tmp_path / "repo"
    (repo / "perfbench").mkdir(parents=True)
    (repo / "perfbench" / "run.py").write_text(FAKE_RUN)
    (repo / "BENCHMARK.json").write_text(json.dumps(BENCH))
    (repo / "SIDE").write_text("parent")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "parent")
    (repo / "SIDE").write_text("change")
    _git(repo, "commit", "-qam", "change")

    log = tmp_path / "order.log"
    monkeypatch.setenv("AB_TEST_LOG", str(log))
    monkeypatch.setattr(ab, "ROOT", str(repo))
    # tempfile caches its directory on first use, so point the cache
    # (not TMPDIR) at tmp_path for the clean-up check below
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert ab.main(["--workload", "w", "--seeds", "1,2", "--pairs", "2"]) == 0
    out = capsys.readouterr().out

    # 4 pairs, the first side alternating pair by pair
    assert log.read_text().split() == [
        "parent", "change", "change", "parent",
        "parent", "change", "change", "parent",
    ]
    rows = {ln.split()[0]: ln for ln in out.splitlines() if ln.split()}
    assert rows["latency_p50_s"].split()[-2:] == ["4/4", "gain"]
    assert rows["work_per_s"].split()[-3:] == ["0/4", "within", "bound"]
    raw = json.loads(out.strip().splitlines()[-1])
    assert [r["first"] for r in raw["runs"]] == [
        "parent", "change", "parent", "change"]
    assert raw["runs"][0]["change"]["latency_p50_s"] == pytest.approx(1.01)
    # the worktrees are gone again
    assert not [p for p in tmp_path.iterdir() if p.name.startswith("ab-")]
    listed = subprocess.run(["git", "-C", str(repo), "worktree", "list"],
                            capture_output=True, text=True).stdout
    assert len(listed.strip().splitlines()) == 1


@pytest.mark.parametrize(
    "parent, change, better, verdict",
    [
        # wins 10/10 and the gap exceeds the parent's IQR
        ([2.0 + 0.01 * i for i in range(10)],
         [1.5 + 0.01 * i for i in range(10)], "lower", "gain"),
        # wins 8/10: no gain, and within the bound
        ([2.0] * 10, [1.9] * 8 + [2.1] * 2, "lower", "within bound"),
        # worse by 30% against a 25% bound
        ([100.0] * 10, [70.0] * 10, "higher", "regression"),
        # parent spread 0.5 / 1.0 > 0.25, runs overlap
        ([0.5, 0.75, 1.0, 1.25, 1.5] * 2, [0.6, 0.8, 1.0, 1.2, 1.4] * 2,
         "lower", "unresolved"),
    ],
)
def test_ab_verdicts(parent, change, better, verdict):
    assert ab.compare(parent, change, better, 0.25)["verdict"] == verdict
