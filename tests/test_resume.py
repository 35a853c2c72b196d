"""Exact resume: interrupted run + resume == uninterrupted run (north_rule)."""

import glob
import os
import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from t2p_spark.checkpoint import run_extract_job

THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"

# the metrics table as appended: parquet stores every column nullable
METRICS_TABLE_SCHEMA = T.StructType(
    [T.StructField("bucket", T.IntegerType())]
    + [T.StructField(c, T.LongType()) for c in (
        "n_docs", "n_ok", "n_quarantined", "n_blocks", "n_spans",
        "span_checksum")]
    + [T.StructField("run_id", T.StringType()),
       T.StructField("sink_format", T.StringType()),
       T.StructField("snapshot_id", T.LongType())]
)


def _bucket_metrics(spark, path):
    return {
        r["bucket"]: (r["n_docs"], r["n_ok"], r["n_spans"], r["span_checksum"])
        for r in spark.read.parquet(path).collect()
    }


def test_exact_resume_after_partial_failure(spark, tmp_path, synth_docs):
    docs = synth_docs(24)
    inp = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(inp)

    # reference run, uninterrupted
    run_extract_job(spark, inp, str(tmp_path / "out_full"),
                    str(tmp_path / "m_full"), run_id="full",
                    parallelism=2, n_buckets=8)
    want = _bucket_metrics(spark, str(tmp_path / "m_full"))

    # interrupted run: simulate a crash after some buckets committed by
    # running fully, then deleting 3 buckets' output + metrics rows
    out2, m2 = str(tmp_path / "out_r"), str(tmp_path / "m_r")
    run_extract_job(spark, inp, out2, m2, run_id="r1",
                    parallelism=2, n_buckets=8)
    victims = sorted(want)[:3]
    keep = spark.read.parquet(m2).filter(~F.col("bucket").isin(victims))
    keep_rows = keep.collect()
    shutil.rmtree(m2)
    spark.createDataFrame(keep_rows, keep.schema).write.parquet(m2)
    for b in victims:
        for d in glob.glob(os.path.join(out2, f"bucket={b}")):
            shutil.rmtree(d)

    # resume: must reprocess exactly the victims
    metrics = run_extract_job(spark, inp, out2, m2, run_id="r2",
                              parallelism=2, n_buckets=8, resume=True)
    redone = {r["bucket"] for r in metrics.collect()}
    assert redone == set(victims)

    got = _bucket_metrics(spark, m2)
    assert got == want  # identical per-bucket counts + span checksums

    # resume again: nothing left to do
    metrics2 = run_extract_job(spark, inp, out2, m2, run_id="r3",
                               parallelism=2, n_buckets=8, resume=True)
    assert metrics2.count() == 0


def test_returned_metrics_are_a_local_relation(spark, tmp_path, synth_docs):
    inp = str(tmp_path / "docs")
    synth_docs(16).write.parquet(inp)
    out, mets = str(tmp_path / "out"), str(tmp_path / "m")
    metrics = run_extract_job(spark, inp, out, mets, run_id="r1",
                              parallelism=2, n_buckets=8)
    rows = sorted(metrics.collect())
    assert spark.read.parquet(mets).schema == METRICS_TABLE_SCHEMA
    assert (metrics._jdf.queryExecution().optimizedPlan()
            .getClass().getSimpleName()) == "LocalRelation"

    # the rows live on the driver: neither the output nor the metrics
    # table is read again
    shutil.rmtree(out)
    shutil.rmtree(mets)
    assert sorted(metrics.collect()) == rows


def test_local_tables_are_listed_on_the_driver(spark, tmp_path, synth_docs):
    inp = str(tmp_path / "docs")
    synth_docs(96).withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
    ).write.partitionBy("bucket").parquet(inp)
    n_dirs = len(glob.glob(os.path.join(inp, "bucket=*")))
    # past Spark's default threshold (32) and the caller's value below
    assert n_dirs > 48

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.conf.set(THRESHOLD, "48")
    try:
        sc.setJobGroup("t2p-driver-listing", "run_extract_job")
        try:
            run_extract_job(spark, inp, str(tmp_path / "out"),
                            str(tmp_path / "m"), run_id="r1", n_buckets=64)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert spark.conf.get(THRESHOLD) == "48"
        tasks = [
            tracker.getStageInfo(s).numTasks
            for j in tracker.getJobIdsForGroup("t2p-driver-listing")
            for s in tracker.getJobInfo(j).stageIds
        ]
        assert tasks and n_dirs not in tasks

        with pytest.raises(AnalysisException):
            run_extract_job(spark, str(tmp_path / "missing"),
                            str(tmp_path / "out2"), str(tmp_path / "m2"),
                            run_id="r2", n_buckets=64)
        assert spark.conf.get(THRESHOLD) == "48"
    finally:
        spark.conf.unset(THRESHOLD)

    with pytest.raises(AnalysisException):
        run_extract_job(spark, str(tmp_path / "missing"),
                        str(tmp_path / "out3"), str(tmp_path / "m3"),
                        run_id="r3", n_buckets=64)
    assert spark.conf.get(THRESHOLD, None) is None
