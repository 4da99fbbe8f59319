"""CDC ingest benchmark entry point.

    python3 perfbench/run.py --workload update_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh worker process (its own Spark driver JVM,
working directory under ``.perfbench_work/`` of the checkout), checks
the engine's results against the DuckDB oracle, prints a readable
summary and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones, both
with the names and units ``BENCHMARK.json`` lists.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import config, gen  # noqa: E402
from perfbench import stats as S  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")


def metric_units(section: str) -> dict:
    """name -> unit of the ``section`` metrics of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (the ``cpu`` line of
    /proc/stat: user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: a run with a high share was slowed by its
    neighbours, not by the program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def fail(msg: str, code: int = 1) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _pgid_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the worker's
    process group, and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _pgid_alive(pgid):
                return
            time.sleep(0.1)


def run_worker(workload: str, args, run_dir: str, deadline: float) -> dict:
    """Generate the run's feeds, then run the worker on them in a fresh
    process group; returns its raw result."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    feed, warm_feed = os.path.join(run_dir, "feed"), os.path.join(run_dir, "warm-feed")
    gen.write_feed(workload, args.seed, config.sizes(workload, args.seconds), feed, config.cpus())
    gen.write_feed(workload, 0, config.warmup_sizes(workload), warm_feed, config.cpus())
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env.update({
        "PYTHONPATH": ROOT,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata files in the system temp dir;
        # -Xms: the heap starts at its full size, so when it grows does
        # not move the driver's RSS and GC from run to run
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
                              + f" -Xms{config.DRIVER_MEM}").strip(),
    })
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", workload,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--feed", feed, "--warm-feed", warm_feed, "--out", out]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"worker {why}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def applied_check(side: str, applied: int, n_files: int) -> tuple[str, bool, str]:
    """Every feed file must have been applied once: a batch the engine
    skipped as already applied leaves its file unapplied."""
    return (f"{side}.batches", applied == n_files, f"{applied} of {n_files} feed files applied")


def oracle_checks(res: dict, workload: str, sides, tmp_dir: str) -> list[tuple[str, bool, str]]:
    """(check, ok, detail) for every correctness check of the run."""
    import duckdb

    from perfbench import oracle

    files = res["feed_files"]
    checks = []
    con = duckdb.connect(config={"threads": config.cpus(), "temp_directory": tmp_dir})
    try:
        for side in sides:
            r = res[side]
            st = oracle.check_state(con, os.path.join(r["state_dir"], "*.parquet"), files)
            checks.append((f"{side}.state", st["ok"], json.dumps(st)))
            checks.append((f"{side}.replay", bool(r["replay_ok"]), "skipped, version unchanged"))
            checks.append(applied_check(side, r["applied_batches"], len(files)))
            if workload == "read_mix":
                ru = oracle.check_rollup(con, r["rollup"], files)
                checks.append((f"{side}.rollup", ru["ok"], json.dumps(ru)))
    finally:
        con.close()
    if "per_layer" in res:
        residual = res["per_layer"]["trace.merge_span_residual_s"]
        checks.append(("traced.self_times", residual < 1e-6,
                       f"merge span subtree self times miss the span by {residual} s"))
    return checks


def end_to_end(res: dict) -> dict:
    u = res["untraced"]
    return {
        "setup_s": S.median(res["setup_cycles_s"]),
        "apply_events_per_s": u["events"] / u["wall_s"],
        "batch_s_p50": S.median(u["batch_s"]),
        "read_s_p50": S.median(u["read_s"]),
        "state_scan_s": S.median(u["state_scan_s"]),
        "compact_s": sum(u["compact_s"]),
        "write_amp": u["sink_bytes"] / res["feed_bytes"],
        "driver_peak_rss_mb": res["peak_rss_mb"],
    }


def layer_metrics(res: dict, attempted: int, failed: int) -> dict:
    # the traced pass ran between two untraced ones, all in one session
    # with the event log on
    u, t, a = res["untraced"], res["traced"], res["untraced_after"]
    untraced_rate = u["events"] / ((u["wall_s"] + a["wall_s"]) / 2)
    traced_rate = t["events"] / t["wall_s"]
    tail = S.tail_percentile(u["batch_s"])
    return {
        "session.get_spark_s": S.median(res["get_spark_s"]),
        "session.get_spark_cold_s": res["get_spark_s"][0],
        **res["per_layer"],
        "trace.apply_events_per_s_untraced": untraced_rate,
        "trace.apply_events_per_s_traced": traced_rate,
        "trace.overhead_share": 1.0 - traced_rate / untraced_rate,
        "loop.batch_count": len(u["batch_s"]),
        "loop.batch_tail_pct": tail[0] if tail else 0.0,
        "loop.batch_tail_s": tail[1] if tail else 0.0,
        "loop.ops_attempted": attempted,
        "loop.failed_ops_ratio": failed / attempted,
    }


def run_one(workload: str, args) -> dict | None:
    """One run of ``workload``: prints its summary and returns its JSON
    result, or None (after saying why) when it could not be measured."""
    deadline = time.monotonic() + config.WORKER_TIMEOUT_S
    run_dir = os.path.join(WORK, f"run-{uuid.uuid4().hex[:12]}")
    os.makedirs(run_dir)
    cpu0 = cpu_times()
    try:
        try:
            res = run_worker(workload, args, run_dir, deadline)
        except RuntimeError as exc:
            fail(str(exc))
            return None
        sides = ["untraced", "traced", "untraced_after"] if args.trace else ["untraced"]
        checks = oracle_checks(res, workload, sides, os.path.join(run_dir, "tmp"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal = steal_share(cpu0, cpu_times())

    attempted = sum(res[s]["ops"] for s in sides) + len(checks)
    failed = sum(1 for _name, ok, _detail in checks if not ok)
    for name, ok, detail in checks:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
    print(f"# {workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"local[{res['cpus']}] driver_mem={res['driver_mem']} "
          f"shuffle_partitions={res['shuffle_partitions']} num_buckets={res['num_buckets']} "
          f"sizes={json.dumps(res['sizes'])} host_cpu_steal={steal:.1%}")
    print(f"# setup cycles {[round(x, 3) for x in res['setup_cycles_s']]} s, "
          f"batches {[round(x, 3) for x in res['untraced']['batch_s']]} s, "
          f"plans {res['untraced']['plans']}, phases {res['phases_s']}")
    e2e, e2e_units = end_to_end(res), metric_units("end_to_end")
    for name, unit in e2e_units.items():
        print(f"{name:>22} {e2e[name]:.6g} {unit}")
    u = res["untraced"]
    tail = S.tail_percentile(u["batch_s"])
    tail_txt = f"p{tail[0]:g}={tail[1]:.6g} s" if tail else "no percentile has >=10 samples beyond it"
    print(f"{'batch_count':>22} {len(u['batch_s'])} ({tail_txt})")
    print(f"{'failed_ops_ratio':>22} {failed / attempted:.6g} (ops_attempted={attempted})")
    if args.trace:
        values, units = layer_metrics(res, attempted, failed), metric_units("per_layer")
    else:
        values, units = e2e, e2e_units
    metrics = {k: {"value": values[k], "unit": unit} for k, unit in units.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=config.WORKLOADS + ("all",),
                    help="'all' runs every workload in turn; its metric names get "
                         "the workload as a prefix")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "radiant_portal_pipeline_spark", "__init__.py")):
        return fail(f"the engine package is missing under {ROOT}", 2)

    if args.workload != "all":
        result = run_one(args.workload, args)
        if result is None:
            return 1
        print(json.dumps(result))
        return 0
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for workload in config.WORKLOADS:
        result = run_one(workload, args)
        if result is None:
            return 1
        total["correct"] &= result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        total["metrics"].update({f"{workload}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
