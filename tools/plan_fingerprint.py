"""Print a normalized physical-plan fingerprint of the CDC merge engine.

Builds a small merge-on-read table and a small copy-on-write table
(4 buckets, two merged epochs of 2000 events each), once with a plain
feed and once with a map payload column, and prints
``explain(mode="formatted")`` of the engine's DataFrames:
``_prepare_batch`` of the next batch, the ``compact()`` fold (captured
at ``rewrite_files``, nothing is committed), ``raw_state()`` and
``changes_since()``.

Expression, plan and RDD ids, the work directory and parquet file names
are masked, so two runs of the same code print the same text. A change
that must keep the engine's plans as they are is checked by running
this at both commits and diffing the output.

Usage:  python tools/plan_fingerprint.py > plans.txt
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed  # noqa: E402
from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine  # noqa: E402

NUM_BUCKETS = 4
_MASKS = [
    (re.compile(r"#\d+L?"), "#N"),  # expression ids: conv_id#12, lsn#7L
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),  # the feed's localCheckpoint
    (re.compile(r"[^\s,\[\]]+\.parquet"), "<FILE>"),
]


def normalize(plan: str, workdir: str) -> str:
    """Mask what differs between two runs of one plan."""
    plan = plan.replace(os.path.realpath(workdir), "<WORK>").replace(
        workdir, "<WORK>"
    )
    for pattern, mask in _MASKS:
        plan = pattern.sub(mask, plan)
    return plan


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _engine_plans(spark, path: str, mode: str, map_payload: bool) -> dict[str, str]:
    feed = synthetic_feed(spark, 6000, dup_frac=0.05)
    if map_payload:
        # a nullable map value: the CoW fold reads existing rows back
        # with valueContainsNull=true, which the table rejects as a type
        # change of a map declared with non-null values
        value = F.when(F.col("lsn") % 7 > 0, F.col("role"))
        feed = feed.withColumn("attrs", F.create_map(F.lit("k"), value))
    feed = feed.localCheckpoint(eager=True)
    batches = [feed.filter(F.col("commit_epoch") == e) for e in range(3)]
    eng = TranscriptMergeEngine(
        TranscriptMergeEngine.create_table(spark, path, num_buckets=NUM_BUCKETS),
        num_buckets=NUM_BUCKETS,
        mode=mode,
    )
    for epoch in (0, 1):
        eng.merge_batch(batches[epoch], epoch=epoch)

    folds = []
    eng.table.rewrite_files = lambda df, replace, layout_ready=False: folds.append(df)
    eng.compact()
    return {
        "prepare_batch": _explain(eng._prepare_batch(batches[2])),
        "compact_fold": _explain(folds[0]),
        "raw_state": _explain(eng.raw_state()),
        "changes_since": _explain(eng.changes_since(100)),
    }


def fingerprint(spark, workdir: str) -> str:
    """The normalized plans of every (mode, payload) case, as one text."""
    out = []
    for mode in ("mor", "cow"):
        for payload in ("plain", "map"):
            path = os.path.join(workdir, f"{mode}_{payload}")
            plans = _engine_plans(spark, path, mode, payload == "map")
            for name, plan in plans.items():
                out.append(f"== {mode}/{payload}/{name} ==")
                out.append(normalize(plan, workdir).rstrip())
    return "\n".join(out) + "\n"


def main() -> None:
    from radiant_portal_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="plan_fingerprint", master="local[2]", shuffle_partitions=4
    )
    workdir = tempfile.mkdtemp(prefix="plan_fingerprint_")
    try:
        sys.stdout.write(fingerprint(spark, workdir))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
