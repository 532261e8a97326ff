"""Checkpoint/resume + lineage (north_rule): kill after k buckets,
re-run, output identical to an uninterrupted run; completed buckets
are skipped; metrics recorded per bucket; spark-submit --py-files
launch works end-to-end."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile

import pytest
from pyspark.sql import functions as F

from sonar_spark import datagen
from sonar_spark.config import FrameConfig
from sonar_spark.plans.pipeline import FeaturizeJob

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CFG = FrameConfig(window=64, hop=16)


def _sorted_rows(df):
    cols = sorted(df.columns)
    return [tuple(r[c] for c in cols) for r in
            sorted(df.collect(), key=lambda r: (r["doc_id"], r["frame_idx"]))]


def test_resume_after_injected_failure(spark, tmp_path):
    toks = datagen.token_table(spark, n_docs=60)
    ref_dir = str(tmp_path / "ref")
    out_dir = str(tmp_path / "out")

    # uninterrupted reference run
    FeaturizeJob(ref_dir, n_buckets=8, frame_cfg=CFG).run(toks)

    # interrupted run: crash after 3 buckets
    job = FeaturizeJob(out_dir, n_buckets=8, frame_cfg=CFG)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(toks, fail_after=3)
    assert len(job.completed_buckets()) == 3

    # resume: completed buckets skipped, rest processed; fail_after
    # that covers every pending bucket lands them all and does not raise
    results = FeaturizeJob(out_dir, n_buckets=8, frame_cfg=CFG).run(
        toks, fail_after=5
    )
    skipped = [r.bucket for r in results if r.skipped]
    assert len(skipped) == 3
    assert len(job.completed_buckets()) == 8

    # byte-equal output vs uninterrupted run
    a = _sorted_rows(job.read_output(spark).drop("__bucket", "bucket"))
    b = _sorted_rows(
        FeaturizeJob(ref_dir, n_buckets=8, frame_cfg=CFG)
        .read_output(spark)
        .drop("__bucket", "bucket")
    )
    assert a == b and len(a) > 0


def test_lineage_metrics(spark, tmp_path):
    toks = datagen.token_table(spark, n_docs=30)
    job = FeaturizeJob(str(tmp_path / "o"), n_buckets=4, frame_cfg=CFG)
    t0 = time.time()
    job.run(toks)
    wall = time.time() - t0
    recs = job.metrics()
    assert len(recs) == 4
    # the on-disk format a resume reads: one marker per bucket
    assert sorted(os.listdir(tmp_path / "o" / "_lineage")) == [
        f"bucket_{b:05d}.json" for b in range(4)
    ]
    assert all(
        set(r) == {"bucket", "rows_in", "rows_out", "wall_sec",
                   "completed_at", "window", "hop", "scan"}
        for r in recs
    )
    # wall_sec is each bucket's share of the run, not the whole run's
    assert sum(r["wall_sec"] for r in recs) <= wall
    assert sum(r["rows_in"] for r in recs) == 30
    total_frames = job.read_output(spark).count()
    assert sum(r["rows_out"] for r in recs) == total_frames
    for r in recs:
        assert r["window"] == 64 and r["hop"] == 16
        assert "completed_at" in r and r["wall_sec"] >= 0


def test_rerun_is_noop(spark, tmp_path):
    toks = datagen.token_table(spark, n_docs=20)
    job = FeaturizeJob(str(tmp_path / "o"), n_buckets=4, frame_cfg=CFG)
    job.run(toks)
    first = {r["bucket"]: r["completed_at"] for r in job.metrics()}
    results = job.run(toks)
    assert all(r.skipped for r in results)
    assert {r["bucket"]: r["completed_at"] for r in job.metrics()} == first


@pytest.mark.slow
def test_spark_submit_pyfiles(tmp_path):
    """North-rule launch mode: spark-submit --py-files package zip."""
    # build the --py-files zip
    zpath = str(tmp_path / "sonar_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "sonar_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    # tiny input
    in_dir = str(tmp_path / "tokens")
    out_dir = str(tmp_path / "features")
    gen = (
        "import sys; sys.path.insert(0, {repo!r});\n"
        "from sonar_spark.session import get_spark;\n"
        "from sonar_spark import datagen;\n"
        "s = get_spark('gen', cpus=2, shuffle_partitions=2);\n"
        "datagen.token_table(s, n_docs=12).write.mode('overwrite')"
        ".parquet({in_dir!r})\n"
    ).format(repo=REPO, in_dir=in_dir)
    subprocess.run([sys.executable, "-c", gen], check=True, cwd=REPO)

    env = dict(os.environ)
    cmd = [
        shutil.which("spark-submit"),
        "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "featurize_job.py"),
        "--input", in_dir, "--output", out_dir, "--buckets", "4",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, env=env,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["buckets_processed"] == 4
    assert summary["rows_out"] > 0
    assert os.path.isdir(os.path.join(out_dir, "_lineage"))
