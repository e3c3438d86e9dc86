"""Guard for the benchmark's traced run.

``perfbench/run.py --trace 1`` wraps package functions by name at runtime
(``Landing.instrument``), and the landing workload calls ``run_pipeline``
with fixed keywords. A rename or deletion of any of those names would only
surface as a ``KeyError``/``AttributeError``/``TypeError`` deep inside a
benchmark run; this test fails on it without starting Spark."""

import inspect

from perfbench.trace import Tracer
from perfbench.workloads import Landing

from pyhydroqc_spark import pipeline
from pyhydroqc_spark.tables import SnapshotTable


def test_landing_instrumentation_wraps_existing_names(tmp_path):
    real_part = pipeline._process_partition
    real_counted = SnapshotTable.__dict__["overwrite_partition_counted"]
    tracer = Tracer()
    try:
        Landing(None, str(tmp_path), seed=0).instrument(tracer)
        assert pipeline._process_partition is not real_part
        assert SnapshotTable.__dict__["overwrite_partition_counted"] is not real_counted
    finally:
        tracer.unwrap_all()
    assert pipeline._process_partition is real_part
    assert SnapshotTable.__dict__["overwrite_partition_counted"] is real_counted


def test_landing_calls_match_pipeline_signatures():
    # the traced run reads a partition's name from args[2]
    params = list(inspect.signature(pipeline._process_partition).parameters)
    assert params[:3] == ["spark", "tok", "part"]
    # the keywords landing_incremental passes to run_pipeline
    inspect.signature(pipeline.run_pipeline).bind(
        None, None, "out", mode="fused_cells", fail_after=1, run_id="initial"
    )
