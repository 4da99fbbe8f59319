"""Fixed benchmark settings. The workload sizes scale with ``--seconds``
so that one run's measured loop takes about that long on a 4-core box;
the amount of work is a pure function of (workload, seconds), never of
how fast the program runs, so two commits always apply the same
batches."""

from __future__ import annotations

import os

DRIVER_MEM = "2g"  # SPARK_GRAFT_DRIVER_MEM: the session default (24g) exceeds a 15 GB box
NUM_BUCKETS = 16
SETUP_CYCLES = 3  # setup_s is the median over this many set-ups in one run
STATE_SCANS = 3  # state_scan_s is the median over this many current_state() scans
READ_PROBES = 3  # delta reads after the loop on update_stream / insert_backfill
RM_COMPACT_EVERY = 2  # read_mix: compact(min_files_per_bucket=...) cadence
RM_MIN_FILES = 2
WORKLOADS = ("update_stream", "insert_backfill", "read_mix")
# Wall-clock budget of the worker process, in seconds: a hung worker is
# killed in time for run.py to exit within 180 s.
WORKER_TIMEOUT_S = 150


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def shuffle_partitions() -> int:
    return cpus()


def sizes(workload: str, seconds: int) -> dict:
    """Feed sizes for one run of ``workload`` measured for ``seconds``."""
    if workload == "update_stream":
        return {"batches": max(3, round(seconds * 0.3)), "events_per_batch": 12_000}
    if workload == "insert_backfill":
        return {"batches": 3, "events_per_batch": max(20_000, seconds * 7_500)}
    if workload == "read_mix":
        return {"convs": 1_000, "batches": max(4, round(seconds * 0.4))}
    raise ValueError(f"unknown workload {workload!r}")


def warmup_sizes(workload: str) -> dict:
    """Sizes of the workload's tiny warm-up feed (seed 0), whose first
    epoch is merged in every set-up cycle."""
    if workload == "read_mix":
        return {"convs": 100, "batches": 0}
    return {"batches": 1, "events_per_batch": 2_000}
