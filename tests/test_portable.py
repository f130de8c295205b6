"""functions/portable.py internals pinned by the r13 optimization round:

* ``spread()`` must never run eager Spark jobs at query-construction
  time (the r12-documented AQE probe materialized exchanges inside a
  constructor), while keeping its parallelism contract on bare scans
  and checkpointed handoffs;
* ``f64_sql`` must render non-finite doubles as parseable CASTs (the
  r12 advisor: ``repr`` forms are rejected by the SQL parser).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cdc_system_spark.functions.portable import f64_sql, lit_vec, spread


def _jobs(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    out = fn()
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def test_spread_runs_no_jobs_at_construction(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # derived frame (join → exchange-bearing plan): the old rdd probe
    # executed AQE stages here; the estimator must not
    derived = docs.join(
        docs.select("doc_id", F.length("text").alias("_l")), "doc_id"
    )
    _, n = _jobs(spark, "spread_derived", lambda: spread(derived))
    assert n == 0, "spread() ran eager jobs on a derived frame"
    # checkpointed handoff (leaf RDD): exact probe, still zero jobs
    ckpt = docs.limit(50).localCheckpoint(eager=True)
    _, n = _jobs(spark, "spread_ckpt", lambda: spread(ckpt))
    assert n == 0, "spread() ran eager jobs on a checkpointed frame"


def test_spread_still_spreads_bare_scans(spark, sf_dir):
    target = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if len(docs.inputFiles()) >= target:
        pytest.skip("fixture scans as >= target splits")
    out = spread(docs)
    assert "Repartition" in out._jdf.queryExecution().analyzed().toString()
    # already-wide input passes through untouched
    wide = spark.range(0, 1000, 1, target * 2).localCheckpoint(eager=True)
    assert spread(wide) is wide


def test_f64_sql_non_finite_literals(spark):
    assert f64_sql(1.5) == "1.5D"
    assert f64_sql(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert f64_sql(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert f64_sql(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    vals = [1.0, float("nan"), float("inf"), float("-inf"), -0.25]
    got = spark.range(1).select(lit_vec(vals).alias("v")).head()["v"]
    assert got[0] == 1.0 and got[4] == -0.25
    assert math.isnan(got[1])
    assert got[2] == float("inf") and got[3] == float("-inf")


def test_spread_repartitions_a_derived_frame_of_unknown_size(spark):
    # an RDD-backed leaf has no size statistic (Spark reports it as
    # spark.sql.defaultSizeInBytes); a derived frame over it, like one of
    # known size, is still repartitioned to the target
    rdd = spark.sparkContext.parallelize([(i % 3, i) for i in range(30)], 1)
    derived = spark.createDataFrame(rdd, "k long, v long").groupBy("k").count()
    out = spread(derived, min_partitions=4)
    assert out.rdd.getNumPartitions() == 4
    assert sorted(tuple(r) for r in out.collect()) == [(0, 10), (1, 10), (2, 10)]
    known = spark.range(1000).groupBy((F.col("id") % 3).alias("k")).count()
    assert spread(known, min_partitions=4).rdd.getNumPartitions() == 4
