"""Alternating same-session A/B timer (round-12 protocol).

Usage: python tools/ab.py <query> [cycles] [states]

``states`` is a comma-separated list, default ``old,new`` (e.g.
``old,mid,new`` for a three-way comparison). Requires the query
function to read os.environ["ZMX_AB"] (one of the states) at BUILD
time (a temporary toggle inserted while the experiment runs; removed
once a winner is kept). Each cycle times every state in turn with the
noop sink in one session (``bench.run_one``), so JVM/codegen/footer
warm-up cancels out. Each state's run gets its own Spark job group, so
every line prints the run's seconds next to the Spark jobs it cost
(build-phase checkpoints and collects included), which tells a
scheduling win from an execution win. Prints per-cycle times and the
min-of-N verdict.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_one  # noqa: E402
from zmaxion_spark.queries import REGISTRY  # noqa: E402
from zmaxion_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
USAGE = "usage: python tools/ab.py <query> [cycles] [states]"


def main() -> None:
    if len(sys.argv) < 2:
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    name = sys.argv[1]
    cycles = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    states = sys.argv[3].split(",") if len(sys.argv) > 3 else ["old", "new"]
    if name not in REGISTRY:
        print(f"ab: unknown query {name}", file=sys.stderr)
        sys.exit(2)
    q = REGISTRY[name]
    spark = get_spark("ab")
    sc = spark.sparkContext
    sc.setJobGroup(f"ab-warmup {name}", f"ab-warmup {name}")
    os.environ["ZMX_AB"] = states[0]
    run_one(spark, q, SF_DIR)  # warm-up, untimed
    times: dict[str, list[float]] = {s: [] for s in states}
    jobs: dict[str, list[int]] = {s: [] for s in states}
    for c in range(cycles):
        for s in states:
            os.environ["ZMX_AB"] = s
            group = f"ab {s}#{c} {name}"
            sc.setJobGroup(group, group)
            times[s].append(run_one(spark, q, SF_DIR))
            jobs[s].append(len(sc.statusTracker().getJobIdsForGroup(group)))
        print(
            f"cycle {c}: "
            + " ".join(f"{s} {times[s][-1]:.2f}s/{jobs[s][-1]} jobs" for s in states),
            flush=True,
        )
    for s in states:
        i = times[s].index(min(times[s]))
        print(
            f"{s:>5}: min {times[s][i]:.2f}s ({jobs[s][i]} jobs)  "
            f"{[round(t, 2) for t in times[s]]}"
        )
    best = min(states, key=lambda s: min(times[s]))
    print(f"{name}: {best.upper()} WINS")


if __name__ == "__main__":
    main()
