"""Package-and-submit proof: the engine must run via
``spark-submit --py-files pkg.zip main.py ...`` (the deployment path —
SURVEY.md §3.1; the reference ships its tasks the same way, as an
Airflow-invoked container command). This test builds the zip exactly as
the main.py docstring instructs, then drives datagen -> replay ->
compact -> state through REAL spark-submit subprocesses from a scratch
cwd (so only the zip provides the package), and value-checks the final
state against an in-process oracle."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str:
    import pyspark

    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    if cand.exists():
        return str(cand)
    found = shutil.which("spark-submit")
    if found:
        return found
    pytest.skip("no spark-submit binary available")


def _build_pkg_zip(dest: Path) -> Path:
    pkg = REPO / "radiant_portal_pipeline_spark"
    zpath = dest / "pkg.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(pkg.rglob("*.py")):
            z.write(f, f.relative_to(REPO))
    return zpath


def _submit(submit, zpath, workdir, *args, cpus="2"):
    env = dict(os.environ)
    env["SPARK_SUBMIT_MODE"] = "1"
    env.setdefault("SPARK_GRAFT_CPUS", cpus)
    # scratch cwd: the driver must resolve the package from --py-files,
    # not from an ambient checkout
    r = subprocess.run(
        [
            submit,
            "--master",
            f"local[{cpus}]",
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.sql.shuffle.partitions=4",
            "--py-files",
            str(zpath),
            str(REPO / "main.py"),
            *args,
        ],
        cwd=str(workdir),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, f"spark-submit {args} failed:\n{r.stderr[-2000:]}"
    return r.stdout


def test_spark_submit_pyfiles_replay_roundtrip(tmp_path, spark):
    submit = _spark_submit()
    zpath = _build_pkg_zip(tmp_path)
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    feed_dir = tmp_path / "feed"
    table_dir = tmp_path / "table"

    _submit(
        submit, zpath, scratch,
        "datagen", "--events", "20000", "--out", str(feed_dir),
        "--dup-frac", "0.05",
    )
    _submit(
        submit, zpath, scratch,
        "replay", "--feed", str(feed_dir), "--table", str(table_dir),
        "--buckets", "8",
    )
    _submit(submit, zpath, scratch, "compact", "--table", str(table_dir))

    # value-check the submitted pipeline's table with the in-process
    # session: final state == LWW oracle over the same deterministic feed
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.dedup import lww_dedup
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
    from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine
    from radiant_portal_pipeline_spark.lake import LakeTable

    tbl = LakeTable(spark, str(table_dir))
    eng = TranscriptMergeEngine(tbl)
    got = sorted(map(tuple, eng.current_state().collect()))
    oracle_feed = synthetic_feed(spark, 20000, dup_frac=0.05)
    want = sorted(
        map(
            tuple,
            lww_dedup(oracle_feed, ["conv_id", "turn_idx"], ["lsn"])
            .filter(F.col("op") != "D")
            .select(*eng.current_state().columns)
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0
