"""Per-batch fixed cost of ``run_batch``: the generated code of a batch
stays cached for the next one, and the frames built on the driver (the
lookup dimensions, the lineage rows) are JVM-local relations, so no job
over them starts Python workers."""

from __future__ import annotations

import os

from pyspark.sql.readwriter import DataFrameWriter

from logshipper_spark import gen, pipeline


def _compiled_classes(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_second_identical_batch_compiles_no_classes(spark, tmp_path):
    tr = gen.transcripts(spark, 200)
    out = str(tmp_path / "out")
    pipeline.run_batch(spark, tr, out, run_id="fc", batch_id=0)
    # another plan family in between, as a second query of the same
    # application would run: it must not push the batch's classes out
    pipeline.run_batch(spark, tr, out, run_id="fc", batch_id=1, sink_write_mode="per_sink")
    before = _compiled_classes(spark)
    pipeline.run_batch(spark, tr, out, run_id="fc", batch_id=0)
    assert _compiled_classes(spark) - before == 0


def test_lookup_and_lineage_frames_are_jvm_local(spark, tmp_path, monkeypatch):
    for df in (gen.lookup_roles(spark), gen.lookup_hosts(spark)):
        plan = _executed_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    written: dict[str, str] = {}
    orig = DataFrameWriter.parquet

    def parquet(writer, path, *args, **kwargs):
        written[str(path)] = _executed_plan(writer._df)
        return orig(writer, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    pipeline.run_batch(
        spark, gen.transcripts(spark, 200), str(tmp_path / "out"), run_id="fc", batch_id=1
    )
    lineage = [plan for path, plan in written.items() if path.split(os.sep)[-2] == "lineage"]
    assert len(lineage) == 1
    # the main pass broadcasts the roles dimension: no RDD scan there
    # either, nor in any other frame the batch writes
    for path, plan in written.items():
        assert "ExistingRDD" not in plan, (path, plan)
