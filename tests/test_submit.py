"""spark-submit --py-files deployment contract (the north-rule launch mode).

Builds the dist zip of `berkeley_entity_spark` (code + packaged ml/
artifacts), copies the job file OUTSIDE the repo, and runs the real
`spark-submit --master local[4] --py-files dist.zip run_pipeline.py` from
that foreign cwd with the repo scrubbed from PYTHONPATH — so the ONLY
import source is the zip, exactly like shipping to a cluster.  Catches
the whole failure class zipimport introduces (e.g. __file__-relative
artifact reads), which in-process tests structurally cannot see."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_pyfiles_zip(zpath: str) -> None:
    """Package berkeley_entity_spark (py + artifact files) as a
    --py-files zip, the shape `spark-submit --py-files dist/jobs.zip`
    in jobs/run_pipeline.py's docstring expects."""
    pkg = os.path.join(REPO, "berkeley_entity_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith((".py", ".npy", ".npz", ".json")):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


@pytest.mark.slow
def test_spark_submit_pyfiles_runs_pipeline(tmp_path):
    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")
    zpath = str(tmp_path / "jobs.zip")
    build_pyfiles_zip(zpath)
    job = str(tmp_path / "run_pipeline.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_pipeline.py"), job)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            zpath,
            job,
            "--scale",
            "tiny",
            "--checkpoint-dir",
            str(tmp_path / "ckpt"),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-4000:])
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stdout[-2000:]
    stats = json.loads(lines[-1])
    assert stats["mentions"] > 0
    assert stats["clusters"] > 0
    assert stats["cluster_assignments"] >= stats["clusters"]


@pytest.mark.slow
def test_job_input_path_matches_run_pipeline(spark, tmp_path):
    """The job's --input branch (a parquet path, read through
    sources.loader.load_webpages) prints the same counts as run_pipeline
    over the same file in-process.  The 300-page fixture holds only url and
    text (already English), so both read a copy tagged lang = 'en' for the
    job's default --lang filter."""
    from pyspark.sql import functions as F

    from berkeley_entity_spark.config import PipelineConfig
    from berkeley_entity_spark.plans.pipeline import run_pipeline

    fixture = str(tmp_path / "pages")
    spark.read.parquet(
        os.path.join(REPO, "fixtures", "synth_pages_300_40_en.parquet")
    ).withColumn("lang", F.lit("en")).write.parquet(fixture)
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--input",
            fixture,
            "--checkpoint-dir",
            str(tmp_path / "job_ckpt"),
            "--no-resume",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-4000:])
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stdout[-2000:]
    got = json.loads(lines[-1])

    res = run_pipeline(
        spark,
        spark.read.parquet(fixture),
        PipelineConfig(checkpoint_dir=str(tmp_path / "ckpt")),
        resume=False,
    )
    want = {
        "mentions": res.mentions.count(),
        "candidate_pairs": res.pairs.count(),
        "scored_pairs": res.scored.count(),
        "cluster_assignments": res.clusters.count(),
        "clusters": res.clusters.select("cluster_id").distinct().count(),
    }
    assert want["clusters"] > 0
    assert {k: got[k] for k in want} == want


@pytest.mark.slow
def test_job_lang_all_reads_untagged_input(spark, tmp_path):
    """--lang all runs the job on an input with no lang column (the
    300-page fixture holds only url and text) and prints the counts of
    run_pipeline(lang=None) over the same file."""
    from berkeley_entity_spark.config import PipelineConfig
    from berkeley_entity_spark.plans.pipeline import run_pipeline

    fixture = os.path.join(REPO, "fixtures", "synth_pages_300_40_en.parquet")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--input",
            fixture,
            "--lang",
            "all",
            "--checkpoint-dir",
            str(tmp_path / "job_ckpt"),
            "--no-resume",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-4000:])
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stdout[-2000:]
    got = json.loads(lines[-1])

    res = run_pipeline(
        spark,
        spark.read.parquet(fixture),
        PipelineConfig(checkpoint_dir=str(tmp_path / "ckpt")),
        resume=False,
        lang=None,
    )
    want = {
        "mentions": res.mentions.count(),
        "cluster_assignments": res.clusters.count(),
        "clusters": res.clusters.select("cluster_id").distinct().count(),
    }
    assert want["clusters"] > 0
    assert {k: got[k] for k in want} == want
