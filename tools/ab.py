"""Alternating same-session A/B timer (round-12 protocol).

Usage: python tools/ab.py <query> [cycles] [states]

``states`` is a comma-separated list, default ``old,new`` (e.g.
``old,mid,new`` for a three-way comparison). Requires the query
function to read os.environ["ZMX_AB"] (one of the states) at BUILD
time (a temporary toggle inserted while the experiment runs; removed
once a winner is kept). Each cycle times every state in turn with the
noop sink in one session (``bench.run_one``), so JVM/codegen/footer
warm-up cancels out. Prints per-cycle times and the min-of-N verdict.
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
    spark.sparkContext.setJobDescription(f"ab-warmup {name}")
    os.environ["ZMX_AB"] = states[0]
    run_one(spark, q, SF_DIR)  # warm-up, untimed
    times: dict[str, list[float]] = {s: [] for s in states}
    for c in range(cycles):
        for s in states:
            os.environ["ZMX_AB"] = s
            spark.sparkContext.setJobDescription(f"ab {s}#{c} {name}")
            times[s].append(run_one(spark, q, SF_DIR))
        print(
            f"cycle {c}: " + " ".join(f"{s} {times[s][-1]:.2f}s" for s in states),
            flush=True,
        )
    for s in states:
        print(f"{s:>5}: min {min(times[s]):.2f}s  {[round(t, 2) for t in times[s]]}")
    best = min(states, key=lambda s: min(times[s]))
    print(f"{name}: {best.upper()} WINS")


if __name__ == "__main__":
    main()
