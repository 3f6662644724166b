"""The production job (jobs/run_pipeline.py) end to end, and the resume
read of a lineage table whose stages record different key columns."""

import importlib.util
import os
import sys

from pyspark.sql import functions as F

JOB = os.path.join(os.path.dirname(__file__), os.pardir, "jobs", "run_pipeline.py")


def _job(monkeypatch):
    """Load the job script; it prepends the repo root to sys.path and
    PYTHONPATH at import, which the test undoes afterwards."""
    monkeypatch.setattr(sys, "path", sys.path[:])
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    spec = importlib.util.spec_from_file_location("run_pipeline", JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_job_then_resume_appends_nothing(spark, tmp_path, capsys, monkeypatch):
    out = str(tmp_path / "tiles")
    argv = ["--images", "synth:3000", "--zoom", "8", "--tiles-out", out,
            "--checkpoint", str(tmp_path / "ckpt"), "--job-id", "j1"]
    job = _job(monkeypatch)

    job.main(argv)
    assert capsys.readouterr().out.strip().endswith("decode_errors=0")
    tiles = spark.read.parquet(out)
    n_tiles = tiles.count()
    assert n_tiles > 0
    assert tiles.agg(F.sum("feature_count")).first()[0] == 3000

    job.main(argv + ["--resume"])
    assert capsys.readouterr().out.strip() == (
        f"job=j1 tiles={n_tiles} decode_errors=0")
    assert spark.read.parquet(out).count() == n_tiles


def test_pending_tiles_from_agg_only_lineage(spark, tmp_path):
    """The agg stage records only zoom; a resume keyed on (zoom, x, y)
    must still read the table and find every planned tile pending."""
    from mvtspark.sources.checkpoint import (
        pending_work, read_checkpoint, write_stage_checkpoint,
    )

    path = str(tmp_path / "ckpt")
    planned = spark.createDataFrame(
        [(8, 1, 2), (8, 3, 4), (9, 5, 6)], "zoom int, x int, y int")
    write_stage_checkpoint(planned, path, job_id="j1", stage="agg",
                           lineage="salted_tile_counts", part_cols=("zoom",))
    todo = pending_work(planned, read_checkpoint(spark, path), "j1", "encode",
                        keys=("zoom", "x", "y"))
    assert sorted(todo.collect()) == sorted(planned.collect())
