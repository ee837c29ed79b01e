"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import pytest

import expected
from tracing import Span, batch_layers, covered, job_layer, self_times, stage_layer


def test_covered_unions_overlaps_and_clips_to_window():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 4), (6, 7)]) == 4
    assert covered((0, 10), [(1, 9), (2, 3)]) == 8  # nested
    assert covered((0, 10), [(-5, 2), (9, 20)]) == 3  # clipped at both ends
    assert covered((0, 10), [(11, 12), (4, 4)]) == 0  # outside, empty


def test_self_time_is_span_minus_children():
    spans = [
        Span("pipeline.run_batch", 0, None, 0.0, 10.0),
        Span("write:sinks_by", 1, 0, 1.0, 3.0),
        Span("collect:sink_part", 2, 0, 2.0, 5.0),
        Span("write:lineage", 3, 0, 8.0, 12.0),  # overruns its parent
        Span("parse.parse_normalized", 4, 1, 1.5, 2.0),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10 - 4 - 2)
    assert selfs[1] == pytest.approx(2 - 0.5)
    assert selfs[2] == pytest.approx(3)
    assert selfs[4] == pytest.approx(0.5)


def _stage(input_bytes=0, output_bytes=0, shuffle_write=0, run_s=1.0):
    return {"input_bytes": input_bytes, "output_bytes": output_bytes,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": shuffle_write,
            "executor_run_s": run_s, "executor_cpu_s": run_s / 2, "gc_s": 0.0,
            "spill_bytes": 0, "num_tasks": 4}


def test_stage_layer_rule():
    assert stage_layer(_stage(input_bytes=10, shuffle_write=5)) == "parse.map"
    assert stage_layer(_stage(output_bytes=10)) == "route.write"
    # a fused stage that both scans and writes counts as the scan
    assert stage_layer(_stage(input_bytes=10, output_bytes=10)) == "parse.map"
    assert stage_layer(_stage()) == "pipeline.broadcast"


def test_job_layer_uses_span_then_stages():
    names = {7: "write:sinks_by", 8: "write:edge_agg", 9: "collect:hosts"}
    stages = {1: _stage(input_bytes=1), 2: _stage(output_bytes=1), 3: _stage()}

    def job(span_id, stage_ids):
        return {"span_id": span_id, "stage_ids": stage_ids}

    assert job_layer(job(7, [1]), names, stages) == "parse.map"
    # skipped stages (absent from the completed set) are ignored
    assert job_layer(job(7, [99, 2]), names, stages) == "route.write"
    assert job_layer(job(7, [3]), names, stages) == "pipeline.broadcast"
    assert job_layer(job(8, [3]), names, stages) == "aggregate.edge_agg"
    assert job_layer(job(9, [3]), names, stages) == "enrich.hosts_collect"
    assert job_layer(job(None, [3]), names, stages) == "pipeline.untagged"


def test_batch_layers_add_up_to_batch_wall():
    batch = Span("pipeline.run_batch", 0, None, 100.0, 110.0)
    spans = [batch, Span("write:sinks_by", 1, 0, 100.5, 106.0),
             Span("write:lineage", 2, 0, 108.0, 109.5)]
    stages = {10: _stage(input_bytes=500, shuffle_write=300, run_s=8.0),
              11: _stage(output_bytes=900, run_s=4.0), 12: _stage(run_s=0.5)}
    jobs = [
        {"span_id": 1, "start": 101.0, "end": 104.0, "stage_ids": [10], "num_tasks": 4},
        # stage 13 was skipped: its shuffle output came from stage 10
        {"span_id": 1, "start": 104.0, "end": 105.5, "stage_ids": [13, 11], "num_tasks": 4},
        {"span_id": 2, "start": 108.5, "end": 109.0, "stage_ids": [12], "num_tasks": 4},
        {"span_id": None, "start": 90.0, "end": 91.0, "stage_ids": [], "num_tasks": 1},
    ]
    m = batch_layers(batch, spans, jobs, stages, cores=4)
    assert m["parse.map_wall_s"] == pytest.approx(3.0)
    assert m["route.write_wall_s"] == pytest.approx(1.5)
    assert m["pipeline.lineage_commit_wall_s"] == pytest.approx(0.5)
    assert m["pipeline.driver_uncovered_s"] == pytest.approx(10 - 5.0)
    assert m["trace.wall_sum_ratio"] == pytest.approx(1.0)
    assert m["tables.scan_input_bytes"] == 500
    assert m["pipeline.order_shuffle_bytes"] == 300
    assert m["route.write_executor_s"] == pytest.approx(4.0)
    assert m["pipeline.jobs_per_batch"] == 3  # the job before the batch is not counted
    assert m["pipeline.core_busy_ratio"] == pytest.approx(12.5 / 40)


TINY = [
    ('{"level":"error","service":"api","status_code":500}', "tool", "search"),
    ('{"@timestamp":"2024-03-01T00:00:00.000Z","log":{"level":"WARN"},'
     '"service":{"name":"s"}}', "user", ""),
    ('{"metric":"m","value":1,"service":"svc"}', "assistant", ""),
    ("[2024-03-01] INFO api: handled request", "system", ""),
    ('{"level":"info","status_code":503}', "tool", "none"),
]
HOSTS = [("db", "db-service", False, 0)]


def test_fanout16_rules_are_sixteen_distinct_sinks():
    rules = expected.fanout16_rules()
    assert len(rules) == 16
    assert len({sink for sink, _, _ in rules}) == 16
    assert [p for _, _, p in rules] == list(range(16))


def test_expected_counts_fanout16_on_tiny_input():
    got = expected.expected_counts(TINY, expected.fanout16_route, HOSTS)
    assert got["rows_in"] == 5
    assert got["parse_errors"] == 2  # plain line and the JSON line without a service
    assert got["sink_rows"] == {
        "sink_errors": 2, "sink_warn": 1, "sink_tools": 2,
        "sink_tool_search": 1, "sink_tool_none": 1,
        "sink_fmt_json": 2, "sink_fmt_ecs": 1, "sink_fmt_metric": 1,
        "sink_role_user": 1, "sink_role_assistant": 1, "sink_role_system": 1,
        "sink_role_tool": 2, "sink_default": 5,
    }


def test_expected_counts_default_rules_on_tiny_input():
    got = expected.expected_counts(TINY, expected.default_route, HOSTS)
    assert got["sink_rows"] == {
        "sink_errors": 2, "sink_tools": 2, "sink_metrics": 1, "sink_default": 5,
    }
