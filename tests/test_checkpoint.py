"""Parquet CheckpointManager: the manifest carries the stage's full
schema, so writing a stage runs only the data write and reading one
runs no Spark job at all (no parquet schema inference)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sparksimjoin.checkpoint import MANIFEST, CheckpointManager


def _frame(spark):
    # one stage, no exchange: writing it is exactly one Spark job
    return spark.range(50).select(
        "id",
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        F.array(F.col("id"), F.col("id") * 2).alias("xs"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_runs_no_schema_inference(spark, tmp_path, spark_jobs):
    ckpt = CheckpointManager(spark, str(tmp_path))
    df = _frame(spark)
    with spark_jobs() as jobs:
        out = ckpt.write(df, "stage")
    assert len(jobs) == 1, jobs  # the parquet write alone
    inferred = spark.read.parquet(str(tmp_path / "stage")).schema
    assert out.schema == inferred
    man = ckpt.manifest("stage")
    assert man["schema"] == inferred.simpleString()
    assert json.loads(man["schema_json"]) == json.loads(df.schema.json())
    assert _rows(out) == _rows(df)


def test_read_with_schema_json_runs_no_job(spark, tmp_path, spark_jobs):
    ckpt = CheckpointManager(spark, str(tmp_path))
    ckpt.write(_frame(spark), "stage")
    with spark_jobs() as jobs:
        got = ckpt.read("stage")
    assert jobs == []
    assert got.schema == spark.read.parquet(str(tmp_path / "stage")).schema
    assert _rows(got) == _rows(_frame(spark))


def test_read_manifest_without_schema_json(spark, tmp_path):
    """Workdirs written before manifests carried ``schema_json`` still
    read, through parquet schema inference."""
    ckpt = CheckpointManager(spark, str(tmp_path))
    ckpt.write(_frame(spark), "stage")
    path = os.path.join(str(tmp_path), "stage", MANIFEST)
    with open(path) as f:
        man = json.load(f)
    del man["schema_json"]
    with open(path, "w") as f:
        json.dump(man, f)
    got = ckpt.read("stage")
    assert got.schema == spark.read.parquet(str(tmp_path / "stage")).schema
    assert _rows(got) == _rows(_frame(spark))


def test_stage_schemas_match_inference(spark, tmp_path):
    """Every stage of a pipeline run with the audit stage, and of an
    incremental batch on top of it: the frame ``read`` opens with the
    manifest schema equals parquet inference over the stage directory,
    and the manifest's ``schema`` string is the inferred one."""
    from sparksimjoin.fixtures import make_transcripts
    from sparksimjoin.incremental import run_incremental
    from sparksimjoin.pipeline import PipelineConfig, run_pipeline

    cfg = PipelineConfig(threshold=0.6, audit=True)
    t_pdf, _ = make_transcripts(n_conv=80, seed=3)
    convs = sorted(t_pdf["conv_id"].unique())
    is_base = t_pdf.conv_id.isin(set(convs[:60]))
    base_wd, inc_wd = str(tmp_path / "base"), str(tmp_path / "inc")
    run_pipeline(spark, spark.createDataFrame(t_pdf[is_base]), base_wd, cfg)
    run_incremental(spark, spark.createDataFrame(t_pdf[~is_base]), base_wd,
                    inc_wd, cfg)

    stages = []
    for wd in (base_wd, inc_wd):
        ckpt = CheckpointManager(spark, wd)
        for man in ckpt.all_manifests():
            name = man["stage"]
            inferred = spark.read.parquet(os.path.join(wd, name)).schema
            assert ckpt.read(name).schema == inferred, (wd, name)
            assert man["schema"] == inferred.simpleString(), (wd, name)
            stages.append(name)
    assert stages.count("audit") == 2
    assert stages.count("clusters") == 2
