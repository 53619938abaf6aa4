"""The benchmark's pinned settings: session config, run shape and workload sizes.

Everything a run depends on besides `--seed` is fixed here, once. `run.py`
hands the session config to the JVM harness unchanged, so no other copy of
it exists that could drift.
"""

import os


def cpus():
    """Cores the session runs on: `local[N]` with N = the cores this process may use."""
    return len(os.sched_getaffinity(0))


def session_conf(n):
    """Spark session settings, identical to the repo's `graft.Bench` board session."""
    return {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
    }


# Driver heap of the harness JVM.
JVM_HEAP = "3g"

# Untimed ops at the end of set-up: the first op of a fresh JVM runs
# 2-4x slower than the ones after it.
WARMUP_OPS = 1
# A run times at least this many ops even when --seconds has passed: the
# median of three ignores one op slowed by a burst of load on the host.
MIN_OPS = 3
# Repetitions of each direct layer call in a traced run.
DIRECT_REPS = 3

# Input files per generated frame: a fixed count, so the scan's partitioning
# (and the bytes written) do not depend on the machine.
FILES = 4

# Workload sizes. `rows` (or `edges`) is what rows_per_s counts.
WORKLOADS = {
    "glm_factor": {"rows": 100_000},
    "graph_labelprop": {"edges": 100_000, "nodes": 10_000, "rounds": 10},
}
