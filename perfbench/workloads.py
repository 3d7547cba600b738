"""The benchmark's named workloads.

Each is a fixed list of registry queries run in a closed loop (one
client, one query at a time) over one generated fixture set. They are
chosen so that a layer that dominates one is absent or minor in the
other: ``iterative_jobs`` runs no streaming, txlog, ECS or Python
worker code, so a change to those should leave it flat, while
``stream_commit`` runs few build-phase fixpoint jobs. The lists are
short because a run, set-up and cold first pass included, has to fit
in well under a minute.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # the seconds of --seconds that one timed pass stands for, which
    # turns --seconds into a fixed number of timed passes
    nominal_pass_s: float
    python_workers: bool = False  # warm the Python worker daemon in set-up


WORKLOADS = {
    w.name: w
    for w in [
        # Fixpoint loops with eager localCheckpoint/collect jobs in the
        # build phase: many small Spark jobs per query.
        Workload(
            "iterative_jobs",
            ("q_recursive_bom", "q_shortest_path", "q_label_propagation"),
            # a warm pass takes 6-7 s on a quiet 4-core host; counted as
            # 5 so that this workload, whose passes spread most, times
            # three passes in the benchmark's 15 s
            nominal_pass_s=5.0,
        ),
        # Micro-batch replays, state-store and WAL commits, sink
        # manifests, txlog JSON commits and ECS systems: the write path.
        Workload(
            "stream_commit",
            (
                "q_stream_tumbling", "q_stream_stateful_counters", "q_stream_to_txlog",
                "q_txlog_merge", "q_ecs_schedule",
            ),
            # a warm pass takes about 6 s on a quiet 4-core host: two
            # passes in the benchmark's 15 s
            nominal_pass_s=6.5,
            python_workers=True,
        ),
    ]
}
