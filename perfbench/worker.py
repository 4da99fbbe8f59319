"""One benchmark workload inside a fresh Spark driver JVM.

Started by ``run.py`` with its working directory set to a scratch
directory of the run (so ``spark-warehouse`` and friends land there);
writes one JSON document with the raw measurements to ``--out``.

    python3 -m perfbench.worker --workload update_stream --seconds 10 \
        --trace 0 --feed feed --warm-feed warm-feed --out result.json

``--feed`` and ``--warm-feed`` are feeds written by ``gen.write_feed``.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import os
import shutil
import time

from perfbench import config, gen
from perfbench import stats as S
from perfbench import trace as T

now = time.perf_counter


# ------------------------------------------------------------- session


def start_session(event_log_dir: str | None = None):
    """The program's own session factory; the event log is switched on
    through its SPARK_GRAFT_EXTRA_CONF hook."""
    from radiant_portal_pipeline_spark.session import get_spark

    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.abspath(event_log_dir)}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ])
    else:
        os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    return get_spark(
        app_name="perfbench",
        master=f"local[{config.cpus()}]",
        shuffle_partitions=config.shuffle_partitions(),
        extra_conf={"spark.sql.warehouse.dir": os.path.abspath("spark-warehouse")},
    )


def read_feed(spark, path: str):
    from radiant_portal_pipeline_spark.cdc.schemas import CHANGE_EVENT_SCHEMA

    return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(path)


def create_tables(spark, workload: str, root: str) -> dict:
    from radiant_portal_pipeline_spark.cdc import TranscriptMergeEngine
    from radiant_portal_pipeline_spark.cdc.analytics import ConversationStats
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter

    paths = {"sink": f"{root}/sink", "checkpoint": f"{root}/checkpoint"}
    sink = TranscriptMergeEngine.create_table(spark, paths["sink"], config.NUM_BUCKETS)
    if workload == "update_stream":
        paths["lineage"] = f"{root}/lineage"
        LineageWriter(spark, paths["lineage"])
    if workload == "read_mix":
        paths["stats"] = f"{root}/stats"
        ConversationStats(spark, paths["stats"], TranscriptMergeEngine(sink))
    return paths


def materialise(df) -> None:
    """Run ``df`` to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, workload: str, root: str, warm_files: list[str]) -> None:
    """One warm-up merge of the warm-up feed's first epoch into a
    throwaway table, through the same path as the workload's loop (on
    update_stream: one stream trigger with lineage attached)."""
    from radiant_portal_pipeline_spark.cdc import TranscriptMergeEngine
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter
    from radiant_portal_pipeline_spark.cdc.stream import run_cdc_stream

    sink = TranscriptMergeEngine.create_table(spark, f"{root}/sink", config.NUM_BUCKETS)
    engine = TranscriptMergeEngine(sink, num_buckets=config.NUM_BUCKETS)
    if workload == "update_stream":
        run_cdc_stream(spark, os.path.dirname(warm_files[0]), engine, f"{root}/checkpoint",
                       lineage=LineageWriter(spark, f"{root}/lineage"),
                       max_files_per_trigger=1)
    else:
        engine.merge_batch(read_feed(spark, warm_files[0]), epoch=0)
    shutil.rmtree(root, ignore_errors=True)


def set_up(workload: str, root: str, warm_files: list[str], event_log_dir: str | None) -> tuple:
    """SETUP_CYCLES x (session start, table creation, warm-up merge);
    the first cycle also launches the JVM, the later ones stop and
    restart the session in it. Returns the live session, the last
    cycle's table paths and the per-cycle timings."""
    spark, cycles, get_spark_s = None, [], []
    for k in range(config.SETUP_CYCLES):
        if spark is not None:
            spark.stop()
            shutil.rmtree(f"{root}/tables-{k - 1}", ignore_errors=True)
        t0 = now()
        spark = start_session(event_log_dir)
        get_spark_s.append(now() - t0)
        paths = create_tables(spark, workload, f"{root}/tables-{k}")
        warm_up(spark, workload, f"{root}/warm-{k}", warm_files)
        cycles.append(now() - t0)
    return spark, paths, cycles, get_spark_s


# ------------------------------------------------------------- tracing


def timed_protocol():
    """A PosixCommitProtocol that counts and times publishes and reads."""
    from radiant_portal_pipeline_spark.lake.table import PosixCommitProtocol

    class TimedCommitProtocol(PosixCommitProtocol):
        def __init__(self):
            self.publish_count = 0
            self.publish_s = 0.0
            self.reads = 0

        def publish(self, target, data):
            t0 = now()
            try:
                return super().publish(target, data)
            finally:
                self.publish_s += now() - t0
                self.publish_count += 1

        def read(self, target):
            self.reads += 1
            return super().read(target)

    return TimedCommitProtocol()


def counters(protocol) -> tuple:
    if protocol is None:
        return (0, 0.0, 0)
    return (protocol.publish_count, protocol.publish_s, protocol.reads)


# Operations the loop times (wall seconds per call).
TIMED = ("batch_s", "read_s", "compact_s", "state_scan_s")


class Run:
    """One pass of a workload over its tables (traced or not)."""

    def __init__(self, spark, workload, paths, files, sizes, tracer=None, protocol=None):
        from radiant_portal_pipeline_spark.cdc import TranscriptMergeEngine
        from radiant_portal_pipeline_spark.lake import LakeTable

        self.spark, self.workload, self.paths, self.files = spark, workload, paths, files
        self.sizes = sizes
        self.tracer = tracer
        self.sink = LakeTable(spark, paths["sink"], commit_protocol=protocol)
        self.protocol = protocol
        self.engine = TranscriptMergeEngine(self.sink, num_buckets=config.NUM_BUCKETS)
        self.out: dict = {"compact_parts": [], "plans": collections.Counter(),
                          "parts_touched": [], "ops": 0}
        for key in TIMED:
            self.out[key] = []
        self.results: list = []  # MergeStats of every batch handed to the engine
        if tracer is not None:
            for m in ("merge_batch", "compact", "changes_since", "current_state"):
                tracer.wrap(self.engine, m, f"cdc.merge.{m}")
            for m in ("append", "snapshot", "read"):
                tracer.wrap(self.sink, m, f"lake.table.{m}")

    def span(self, name):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    @contextlib.contextmanager
    def timed(self, key: str):
        """Append the block's wall time to ``out[key]``."""
        t0 = now()
        yield
        self.out[key].append(now() - t0)

    def op(self, n: int = 1) -> None:
        self.out["ops"] += n

    def _record(self, st) -> None:
        self.out["plans"][st.plan] += 1
        self.out["parts_touched"].append(st.parts_touched)

    def _merge(self, epoch: int):
        st = self.engine.merge_batch(read_feed(self.spark, self.files[epoch]), epoch=epoch)
        self.results.append(st)
        return st

    def delta_read(self, watermark: int) -> None:
        with self.span("read.delta"), self.timed("read_s"):
            materialise(self.engine.changes_since(watermark))
        self.op()

    def compact(self, **kw) -> None:
        data = os.path.join(self.paths["sink"], "data")
        before = set(os.listdir(data))
        with self.timed("compact_s"):
            parts = self.engine.compact(**kw)
        self.out["compact_parts"].append(len(parts))
        self.out.setdefault("compaction_dirs", []).extend(set(os.listdir(data)) - before)
        self.op()

    # ---- loops

    def loop(self) -> None:
        data = os.path.join(self.paths["sink"], "data")
        getattr(self, f"_loop_{self.workload}")()
        self.out["loop_dirs"] = sorted(os.listdir(data))
        self.out["applied_batches"] = count_applied(self.results)
        self.out["last_epoch"] = max((st.epoch for st in self.results if not st.skipped),
                                     default=-1)

    def _begin(self) -> None:
        self.out["dirs_before"] = sorted(os.listdir(os.path.join(self.paths["sink"], "data")))
        self.out["counters_before"] = counters(self.protocol)
        self.out["loop_t0"] = now()

    def _end(self) -> None:
        self.out["loop_t1"] = now()
        self.out["wall_s"] = self.out["loop_t1"] - self.out["loop_t0"]
        self.out["counters_after"] = counters(self.protocol)

    def _loop_update_stream(self) -> None:
        from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter
        from radiant_portal_pipeline_spark.cdc.stream import run_cdc_stream

        lineage = LineageWriter(self.spark, self.paths["lineage"])
        if self.tracer is not None:
            self.tracer.wrap(lineage, "record", "cdc.lineage.record")
        self._begin()
        query = run_cdc_stream(
            self.spark, os.path.dirname(self.files[0]), self.engine,
            self.paths["checkpoint"], lineage=lineage, max_files_per_trigger=1,
            await_termination=False, on_batch=self.results.append,
        )
        query.awaitTermination()
        self._end()
        progress = [_progress(p) for p in query.recentProgress]
        progress = [p for p in progress if p.get("numInputRows", 0) > 0]
        self.out["progress"] = [p["durationMs"] for p in progress]
        self.out["batch_s"] = [d["triggerExecution"] / 1000.0 for d in self.out["progress"]]
        for st in self.results:
            self._record(st)
        self.op(len(self.results))

    def _loop_insert_backfill(self) -> None:
        self._begin()
        for ep in range(len(self.files)):
            with self.timed("batch_s"):
                st = self._merge(ep)
            self._record(st)
            self.op()
        self._end()

    def _loop_read_mix(self) -> None:
        from radiant_portal_pipeline_spark.cdc.analytics import ConversationStats

        cstats = ConversationStats(self.spark, self.paths["stats"], self.engine)
        if self.tracer is not None:
            self.tracer.wrap(cstats, "refresh", "cdc.analytics.refresh")
            self.tracer.wrap(cstats, "global_rollup", "cdc.analytics.global_rollup")
        # base load (epoch 0) is preparation, outside the measured loop
        st = self._merge(0)
        cstats.refresh(st.parts)
        self.op(2)
        watermark = gen.epoch_lsn_range("read_mix", self.sizes, 0)[1]
        self._begin()
        for ep in range(1, len(self.files)):
            with self.timed("batch_s"):
                st = self._merge(ep)
            self._record(st)
            self.op()
            with self.timed("read_s"):
                cstats.refresh(st.parts)
                with self.span("read.delta"):
                    materialise(self.engine.changes_since(watermark))
            self.op(2)
            watermark = gen.epoch_lsn_range("read_mix", self.sizes, ep)[1]
            if ep % config.RM_COMPACT_EVERY == 0:
                self.compact(min_files_per_bucket=config.RM_MIN_FILES)
        self._end()
        with self.span("read.rollup"):
            row = cstats.global_rollup().collect()[0].asDict()
        self.out["rollup"] = {k: (int(v) if v is not None else None) for k, v in row.items()}
        self.op()

    # ---- after the loop

    def finish(self, state_dir: str, last_watermark: int) -> None:
        self.out["live_files"] = len(self.sink.live_files())
        self.out["delta_files"] = len(
            self.sink.live_files(skip={"lsn": (last_watermark + 1, None)})
        )
        import pyarrow.parquet as pq

        for _ in range(config.STATE_SCANS):
            with self.span("read.state"), self.timed("state_scan_s"):
                state = self.engine.current_state().toArrow()
        os.makedirs(state_dir)
        pq.write_table(state, os.path.join(state_dir, "state.parquet"))  # for the oracle
        self.out["state_dir"] = state_dir
        if self.workload != "read_mix":
            for _ in range(config.READ_PROBES):
                self.delta_read(last_watermark)
            self.compact()
        self.out["replay_ok"] = self.replay_probe()
        self.op()
        self.out["sink_bytes"] = _parquet_files(self.paths["sink"], ["data"])[1]

    def replay_probe(self) -> bool:
        """Re-deliver the last applied epoch through a fresh engine over
        the same table: it must be skipped and leave the version as is."""
        from radiant_portal_pipeline_spark.cdc import TranscriptMergeEngine
        from radiant_portal_pipeline_spark.lake import LakeTable

        table = LakeTable(self.spark, self.paths["sink"])
        fresh = TranscriptMergeEngine(table, num_buckets=config.NUM_BUCKETS)
        last = self.out["last_epoch"]
        if table.snapshot().applied.get(fresh.source_id) != last:
            return False
        v0 = table.latest_version()
        st = fresh.merge_batch(read_feed(self.spark, self.files[last]), epoch=last)
        return bool(st.skipped) and table.latest_version() == v0


def count_applied(results) -> int:
    """Batches the engine applied, i.e. did not skip as already applied."""
    return sum(1 for st in results if not st.skipped)


def _progress(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


def _parquet_files(root: str, dirs) -> tuple[int, int]:
    """(count, bytes) of the parquet files under root/<each of dirs>."""
    n = b = 0
    for d in dirs:
        for dirpath, _dirs, files in os.walk(os.path.join(root, d)):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(dirpath, f))
    return n, b


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus all its descendants (the
    driver JVM), in MiB."""
    me = os.getpid()
    parent_of = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent_of[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    family, grew = {me}, True
    while grew:
        grew = False
        for pid, ppid in parent_of.items():
            if ppid in family and pid not in family:
                family.add(pid)
                grew = True
    total_kb = 0
    for pid in family:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# ------------------------------------------------------- per-layer view


def per_layer(run: Run, tracer: T.Tracer, log: T.EventLog, cores: int) -> dict:
    out = run.out
    lo, hi = out["loop_t0"], out["loop_t1"]
    spans = tracer.spans
    kids = T.children_of(spans)
    selfs = T.self_times(spans)
    in_loop = [s for s in spans if lo <= s.start <= hi]
    by_name = collections.defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    loop_by_name = collections.defaultdict(list)
    for s in in_loop:
        loop_by_name[s.name].append(s)
    batches = max(1, len(out["batch_s"]))  # batches of the measured loop
    events = out["events"]

    def med(xs):
        return S.median(xs) if xs else 0.0

    merges = loop_by_name["cdc.merge.merge_batch"]
    jobs_per_span = collections.Counter(v for v in log.jobs.values() if v)
    write_stages, lineage_stages = [], []
    busy_wall = 0.0
    skews, residuals = [], []
    for m in merges:
        sub = T.subtree(m.id, kids)
        lin_ids = set()
        for s in sub:
            if s.name == "cdc.lineage.record":
                lin_ids |= {s.id} | {c.id for c in T.subtree(s.id, kids)}
        write_ids = ({m.id} | {s.id for s in sub}) - lin_ids
        ws = [st for st in log.stages.values() if st.span in write_ids]
        write_stages += ws
        lineage_stages += [st for st in log.stages.values() if st.span in lin_ids]
        lin_wall = sum(s.seconds for s in sub if s.name == "cdc.lineage.record")
        busy_wall += m.seconds - lin_wall
        wide = T.widest_stage(ws)
        if wide is not None:
            skews.append(T.stage_skew(wide))
        residuals.append(T.self_time_residual(m, spans))
    run_ms = sum(sum(st.run_ms) for st in write_stages)
    gc_ms = sum(st.gc_ms for st in write_stages)
    progress = out.get("progress", [])

    def phase(key):
        return med([d.get(key, 0) for d in progress])

    pub0, pubs0, reads0 = out["counters_before"]
    pub1, pubs1, reads1 = out["counters_after"]
    new_dirs = set(out["loop_dirs"]) - set(out["dirs_before"]) - set(out.get("compaction_dirs", []))
    files_w, bytes_w = _parquet_files(os.path.join(run.paths["sink"], "data"), new_dirs)
    snaps = loop_by_name["lake.table.snapshot"]
    trig = [d.get("triggerExecution", 0) / 1000.0 for d in progress]
    overhead = [(d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000.0 for d in progress]
    return {
        "cdc.stream.trigger_s": med(trig),
        "cdc.stream.overhead_s": med(overhead),
        "cdc.stream.wal_commit_ms": phase("walCommit"),
        "cdc.stream.latest_offset_ms": phase("latestOffset"),
        "cdc.stream.query_planning_ms": phase("queryPlanning"),
        "cdc.merge.merge_batch_s": med([m.seconds for m in merges]),
        "cdc.merge.merge_batch_self_s": med([selfs[m.id] for m in merges]),
        "cdc.merge.jobs_before_write": sum(jobs_per_span[m.id] for m in merges) / batches,
        **{f"cdc.merge.plan.{p}": out["plans"].get(p, 0)
           for p in ("append_only", "argmax_broadcast", "argmax", "hot_split")},
        "cdc.merge.parts_touched": (sum(out["parts_touched"]) / len(out["parts_touched"])
                                    if out["parts_touched"] else 0.0),
        "cdc.merge.compact_s": med([s.seconds for s in by_name["cdc.merge.compact"]]),
        "cdc.merge.compact_parts": (sum(out["compact_parts"]) / len(out["compact_parts"])
                                    if out["compact_parts"] else 0.0),
        "cdc.merge.changes_since_s": med([s.seconds for s in by_name["read.delta"]]),
        "cdc.merge.current_state_s": med([s.seconds for s in by_name["read.state"]]),
        "cdc.dedup.shuffle_bytes_per_event": sum(st.shuffle_write_bytes for st in write_stages) / max(1, events),
        "cdc.dedup.spill_bytes": sum(st.disk_spill_bytes for st in write_stages) / batches,
        "cdc.dedup.stage_skew": med(skews),
        "cdc.dedup.gc_share": gc_ms / run_ms if run_ms else 0.0,
        "cdc.dedup.core_busy_share": (run_ms / 1000.0) / (cores * busy_wall) if busy_wall else 0.0,
        "lake.table.append_s": med([s.seconds for s in loop_by_name["lake.table.append"]]),
        "lake.table.snapshot_s": sum(s.seconds for s in snaps) / batches,
        "lake.table.snapshot_calls": len(snaps) / batches,
        "lake.table.publish_s": (pubs1 - pubs0) / batches,
        "lake.table.publish_count": (pub1 - pub0) / batches,
        "lake.table.protocol_reads": (reads1 - reads0) / batches,
        "lake.table.files_written": files_w / batches,
        "lake.table.bytes_written": bytes_w / batches,
        "lake.table.live_files_per_bucket": out["live_files"] / config.NUM_BUCKETS,
        "lake.table.files_opened_per_delta_read": out["delta_files"],
        "cdc.lineage.record_s": med([s.seconds for s in loop_by_name["cdc.lineage.record"]]),
        "cdc.lineage.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in lineage_stages) / batches,
        "cdc.analytics.refresh_s": med([s.seconds for s in loop_by_name["cdc.analytics.refresh"]]),
        "cdc.analytics.rollup_s": med([s.seconds for s in by_name["read.rollup"]]),
        "trace.merge_span_residual_s": max(residuals) if residuals else 0.0,
    }


# ---------------------------------------------------------------- main


def execute(spark, workload, paths, files, sizes, state_dir, traced):
    tracer = protocol = None
    if traced:
        sc = spark.sparkContext
        tracer = T.Tracer(tag_jobs=lambda sid: sc.setLocalProperty(T.SPAN_PROPERTY, sid))
        protocol = timed_protocol()
    run = Run(spark, workload, paths, files, sizes, tracer=tracer, protocol=protocol)
    run.loop()
    last_wm = gen.epoch_lsn_range(workload, sizes, run.out["last_epoch"])[0] - 1
    run.finish(state_dir, last_wm)
    loop_first = 1 if workload == "read_mix" else 0
    ranges = [gen.epoch_lsn_range(workload, sizes, ep)
              for ep in range(loop_first, run.out["last_epoch"] + 1)]
    run.out["events"] = sum(hi - lo + 1 for lo, hi in ranges)
    return run, tracer


def summarize(run: Run) -> dict:
    o = run.out
    return {
        "wall_s": o["wall_s"], "events": o["events"], **{k: o[k] for k in TIMED},
        "sink_bytes": o["sink_bytes"],
        "replay_ok": o["replay_ok"], "applied_batches": o["applied_batches"],
        "ops": o["ops"], "rollup": o.get("rollup"), "state_dir": o["state_dir"],
        "plans": dict(o["plans"]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=config.WORKLOADS)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--feed", required=True)
    ap.add_argument("--warm-feed", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = config.DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(config.cpus())
    root = os.path.abspath("work")
    sizes = config.sizes(a.workload, a.seconds)

    # A traced run has the event log on from the start, so that its
    # untraced and traced passes differ only by the tracing.
    log_dir = os.path.abspath("eventlog") if a.trace else None
    files = gen.feed_files(os.path.abspath(a.feed))
    warm_files = gen.feed_files(os.path.abspath(a.warm_feed))
    t0 = now()
    spark, paths, cycles, get_spark_s = set_up(a.workload, root, warm_files, log_dir)
    t_setup = now()
    result = {
        "setup_cycles_s": cycles, "get_spark_s": get_spark_s,
        "feed_files": files, "feed_bytes": sum(os.path.getsize(f) for f in files),
        "sizes": sizes, "cpus": config.cpus(), "driver_mem": config.DRIVER_MEM,
        "shuffle_partitions": config.shuffle_partitions(), "num_buckets": config.NUM_BUCKETS,
    }
    run, _ = execute(spark, a.workload, paths, files, sizes, os.path.abspath("state-0"), False)
    result["phases_s"] = {"setup": t_setup - t0, "loop": run.out["wall_s"],
                          "pass": now() - t_setup}
    result["untraced"] = summarize(run)
    result["peak_rss_mb"] = peak_rss_mb()
    if a.trace:
        # untraced, traced, untraced again: the JVM still warms up from
        # pass to pass, so the traced pass is compared with the mean of
        # the passes on either side of it
        app_id = spark.sparkContext.applicationId
        paths = create_tables(spark, a.workload, f"{root}/traced")
        run, tracer = execute(spark, a.workload, paths, files, sizes,
                              os.path.abspath("state-1"), True)
        result["traced"] = summarize(run)
        after, _ = execute(spark, a.workload, create_tables(spark, a.workload, f"{root}/after"),
                           files, sizes, os.path.abspath("state-2"), False)
        result["untraced_after"] = summarize(after)
        spark.stop()
        with open(os.path.join(log_dir, app_id)) as fh:
            log = T.parse_event_log(fh)
        result["per_layer"] = per_layer(run, tracer, log, config.cpus())
    else:
        spark.stop()
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
