"""Direct evidence for the _drain pin's parity argument: the drained
values of a stateful twin must be IDENTICAL at any state-partition
count.  The argument (streaming/jobs.py::STATE_PARTITIONS) is that a
key's rows land in one partition per batch at any count and the
per-key fold order comes from the explicit in-group sort — this test
runs the HARDEST case, the order-sensitive CUSUM twin (float fold,
cross-batch carry), at two different pins and requires bit-identical
results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import kinesis_s3_data_shipper_spark.streaming.jobs as jobs

SF = "/root/testdata/sf0.001"


def _run_cusum(spark, sf_dir):
    from kinesis_s3_data_shipper_spark.plans.events import _CUSUM_SLACK
    from kinesis_s3_data_shipper_spark.plans.streaming import (
        _stage_time_slices)
    from kinesis_s3_data_shipper_spark.sources.tables import load_table
    landing, checkpoint = _stage_time_slices(sf_dir=sf_dir, spark=spark)
    ev = load_table(spark, sf_dir, "events")
    baseline = (ev.groupBy("user_id")
                .agg(F.count("*").cast("long").alias("n"),
                     F.sum(F.col("value").cast("decimal(20,6)"))
                     .cast("double").alias("sv"))
                .filter(F.col("n") >= 4))
    return jobs.streaming_cusum_final(
        spark, landing, checkpoint=checkpoint, baseline=baseline,
        slack_mult=1.0 + _CUSUM_SLACK)


@pytest.mark.parametrize("other_pin", [2])
def test_cusum_values_invariant_to_state_partition_count(
        spark, other_pin, monkeypatch):
    rows_default = {r.user_id: (r.n_events, r.cusum_final)
                    for r in _run_cusum(spark, SF).collect()}
    monkeypatch.setattr(jobs, "STATE_PARTITIONS", other_pin)
    rows_other = {r.user_id: (r.n_events, r.cusum_final)
                  for r in _run_cusum(spark, SF).collect()}
    assert rows_default and rows_default == rows_other
