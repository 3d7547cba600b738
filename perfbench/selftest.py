"""Self-test of the benchmark, at sf0.001 with one timed pass.

    python3 perfbench/selftest.py [--workload stream_commit]

Run from the repository root. Checks that

- an untraced and a traced run print every end-to-end and per-layer
  metric by name with its unit, and check outputs (``correct``);
- one seed gives one query order, and another seed another;
- an injected failing query raises the error rate and does not lower
  ``pass_s``;
- in a directory holding only the benchmark, the run exits non-zero
  without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import run as bench
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def invoke(workload: str, *extra: str, cwd: str = ROOT, seconds: int = 5):
    cmd = [sys.executable, os.path.join(os.path.relpath(HERE, ROOT), "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", str(seconds),
           "--scale", "0.001", "--max-passes", "1", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc) -> dict:
    if proc.returncode != 0:
        raise SystemExit(f"run failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(proc, expected: dict[str, str]) -> dict:
    r = result(proc)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    assert got == expected, f"metrics/units differ: {set(got) ^ set(expected)}"
    printed = {ln.split()[1]: ln.split()[-1] for ln in proc.stdout.splitlines()
               if ln.startswith("# ") and " = " in ln}
    assert all(printed.get(k) == u for k, u in expected.items()), printed
    return r


def check_order() -> None:
    names = [f"q{i}" for i in range(12)]

    def orders(seed: int) -> list[list[str]]:
        run = bench.Run(WORKLOADS["iterative_jobs"],
                        argparse.Namespace(seed=seed), "", {})
        run.queries = dict.fromkeys(names)
        return [run.order() for _ in range(3)]

    assert orders(1) == orders(1), "one seed must give one order"
    assert orders(1) != orders(2), "seeds should permute the order"
    assert all(sorted(o) == sorted(names) for o in orders(3)), "a pass runs every query once"


def check_bare_dir() -> None:
    bare = os.path.join(ROOT, ".bench_build", "perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "stream_commit",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0, "a bare checkout must fail"
    assert '"metrics"' not in proc.stdout, "a bare checkout must print no result"


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", default="stream_commit", choices=sorted(WORKLOADS))
    wl = p.parse_args().workload

    check_order()
    check_bare_dir()
    plain = check_metrics(invoke(wl, "--trace", "0"), bench.END_TO_END)
    check_metrics(invoke(wl, "--trace", "1"), bench.PER_LAYER)
    seconds = 5
    bad = result(invoke(wl, "--trace", "0", "--inject-failure", seconds=seconds))
    assert not bad["correct"] and bad["failed"] >= 1, bad
    pass_bad = bad["metrics"]["pass_s"]["value"]
    assert pass_bad >= seconds and pass_bad > plain["metrics"]["pass_s"]["value"], bad
    print("perfbench self-test passed")


if __name__ == "__main__":
    main()
