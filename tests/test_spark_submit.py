"""Packaging: the flagship job must run under real ``spark-submit
--py-files <zip>`` from a cwd outside the repo (the zip, not the
checkout, provides the package) and resume from its checkpoints."""

import json
import os
import shutil
import subprocess
import sys

import pytest

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF_DIR), reason="driver testdata missing"
)


def _spark_submit() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    found = shutil.which("spark-submit")
    if not found:
        pytest.skip("spark-submit not available")
    return found


def test_build_pyfiles_zip(tmp_path):
    sys.path.insert(0, REPO)
    from osm_legal_default_speeds_spark.jobs.pipeline_job import build_pyfiles_zip

    z = build_pyfiles_zip(str(tmp_path / "pkg.zip"))
    import zipfile

    names = zipfile.ZipFile(z).namelist()
    assert "osm_legal_default_speeds_spark/__init__.py" in names
    assert "osm_legal_default_speeds_spark/jobs/pipeline_job.py" in names
    assert all(n.endswith(".py") for n in names)


def test_default_ruleset_fallback_warns(tmp_path, monkeypatch):
    """A missing rule dataset must not silently shrink every job to the
    mini rule set: the loader warns and names the path it looked at."""
    sys.path.insert(0, REPO)
    from osm_legal_default_speeds_spark.jobs.pipeline_job import (
        load_default_ruleset,
    )
    from osm_legal_default_speeds_spark.sources import rules_json

    missing = str(tmp_path / "absent.json")
    monkeypatch.setattr(rules_json, "REFERENCE_DATASET_PATH", missing)
    with pytest.warns(UserWarning, match="REFERENCE_DATASET_PATH") as rec:
        ruleset = load_default_ruleset()
    assert missing in str(rec[0].message)
    assert sorted(ruleset.speed_limits_by_country) == ["ZA"]


def test_spark_submit_pyfiles_end_to_end(tmp_path, spark):
    sys.path.insert(0, REPO)
    from osm_legal_default_speeds_spark.jobs.pipeline_job import build_pyfiles_zip

    z = build_pyfiles_zip(str(tmp_path / "pkg.zip"))
    script = os.path.join(
        REPO, "osm_legal_default_speeds_spark", "jobs", "pipeline_job.py"
    )
    out_dir = str(tmp_path / "out")
    workdir = str(tmp_path / "cwd")  # NOT the repo: zip must supply the pkg
    os.makedirs(workdir)

    env = {
        k: v for k, v in os.environ.items() if k not in ("PYTHONPATH",)
    }
    env["PYSPARK_PYTHON"] = sys.executable

    def submit():
        return subprocess.run(
            [
                _spark_submit(),
                "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--py-files", z,
                script,
                "--sf-dir", SF_DIR,
                "--output", out_dir,
                "--num-buckets", "4",
                "--batch-size", "2",
            ],
            cwd=workdir, env=env, capture_output=True, text=True, timeout=600,
        )

    p = submit()
    assert p.returncode == 0, p.stderr[-4000:]
    line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    summary = json.loads(line)
    assert sorted(summary["completed"]) == [0, 1, 2, 3]
    assert summary["rows"] > 0

    manifest_dir = os.path.join(out_dir, "_manifests")
    assert len(os.listdir(manifest_dir)) == 4

    # second submit resumes: all buckets skipped
    p2 = submit()
    assert p2.returncode == 0, p2.stderr[-4000:]
    line2 = [l for l in p2.stdout.splitlines() if l.startswith("{")][-1]
    summary2 = json.loads(line2)
    assert summary2["completed"] == []
    assert sorted(summary2["skipped"]) == [0, 1, 2, 3]

    # the written table is flagship_pipeline's output, result tags
    # included, row for row
    from osm_legal_default_speeds_spark.jobs.pipeline_job import (
        flagship_pipeline,
        load_default_ruleset,
    )
    from osm_legal_default_speeds_spark.plans.checkpointed_job import PID_COL
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        _roads_df,
        synth_boundaries,
    )

    written = spark.read.parquet(out_dir).drop(PID_COL)
    assert written.columns == [
        "road_id", "region_code", "tile_id",
        "road_type_name", "certitude", "result_tags",
    ]
    expected = flagship_pipeline(
        _roads_df(spark, SF_DIR), load_default_ruleset(), synth_boundaries()
    )
    got = sorted(written.collect(), key=lambda r: r["road_id"])
    assert len(got) == summary["rows"] == 1500
    assert got == sorted(expected.collect(), key=lambda r: r["road_id"])
