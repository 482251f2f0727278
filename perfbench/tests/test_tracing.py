"""Self-test of the benchmark's event-log parser and span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracing import Span, Tracer, job_group, layer_metrics, parse_event_log, self_times  # noqa: E402


def _job(job_id, stages, group):
    props = {"spark.rdd.scope": "x"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _stage_done(stage_id, failed=False):
    info = {"Stage ID": stage_id, "Stage Attempt ID": 0, "Number of Tasks": 1}
    if failed:
        info["Failure Reason"] = "boom"
    return {"Event": "SparkListenerStageCompleted", "Stage Info": info}


def _task(stage_id, run_ms, cpu_ns, peak=0, sw=0, local_read=0, remote_read=0, spill=0, py=None):
    accums = [{"ID": 1, "Name": "internal.metrics.executorRunTime", "Update": run_ms}]
    for name, value in (py or {}).items():
        accums.append({"ID": 9, "Name": name, "Update": str(value)})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Info": {"Accumulables": accums},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Peak Execution Memory": peak,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": remote_read, "Local Bytes Read": local_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        },
    }


A, B = job_group(0, "extract"), job_group(0, "blocking.pairs")
CANNED = [json.dumps(e) for e in (
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job(0, [0, 1, 3], A),
    _job(1, [1, 2], B),  # stage 1 is shared: charged to the first job (A)
    _job(2, [4], None),  # no job group: not charged to any layer
    _task(0, 100, 50_000_000, peak=10, sw=7,
          py={"time to run Python workers": 80, "data sent to Python workers": 1000,
              "data returned from Python workers": 500}),
    _task(0, 300, 150_000_000, peak=30, sw=3),
    _stage_done(0),
    _task(1, 50, 10_000_000, local_read=4, remote_read=6, spill=2),
    _stage_done(1),
    _task(2, 1000, 900_000_000, peak=5, local_read=11),
    _stage_done(2),
    _task(4, 999, 1, peak=99),
    _stage_done(4),
    _task(5, 1, 1),
    _stage_done(5, failed=True),
)] + [
    # other event types are skipped before decoding, so a truncated plan
    # description line does not break the parse
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart","physicalPlanDescription":"tru',
]


def test_parse_event_log_charges_completed_stages_to_job_groups():
    out = parse_event_log(CANNED)
    assert set(out) == {A, B}
    a, b = out[A], out[B]
    # stage 3 never completed (skipped), stage 1 is charged to A only
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert a["run_ms"] == 450 and a["cpu_ns"] == 210_000_000
    assert a["shuffle_write_bytes"] == 10 and a["shuffle_read_bytes"] == 10
    assert a["spill_bytes"] == 2 and a["peak_exec_mem_bytes"] == 30
    assert (a["py_time_ms"], a["py_bytes_sent"], a["py_bytes_received"]) == (80, 1000, 500)
    assert (b["jobs"], b["stages"], b["tasks"], b["run_ms"]) == (1, 1, 1, 1000)
    assert b["shuffle_read_bytes"] == 11 and b["peak_exec_mem_bytes"] == 5


def test_layer_metrics_units_and_slot_busy_fraction():
    span = Span("extract", 10.0, 12.0, "chain", 0)
    row = layer_metrics(span, 1.5, parse_event_log(CANNED)[A], cores=4)
    assert row["wall_s"] == 2.0 and row["self_s"] == 1.5
    assert row["cpu_s"] == pytest.approx(0.21)
    assert row["py_time_s"] == pytest.approx(0.08)
    # 0.45 s of executor run time over 2 s x 4 slots
    assert row["slot_busy_frac"] == pytest.approx(0.45 / 8)
    assert layer_metrics(span, 0.0, {}, cores=4)["jobs"] == 0


def test_self_time_subtracts_the_union_of_clipped_children():
    spans = [
        Span("chain", 0.0, 10.0, None, 0),
        Span("a", 1.0, 4.0, "chain", 0),
        Span("x", 2.0, 3.0, "a", 0),
        Span("b", 3.0, 6.0, "chain", 0),  # overlaps a: counted once
        Span("c", 9.0, 12.0, "chain", 0),  # clipped to the parent's end
        Span("chain", 0.0, 5.0, None, 1),  # another run: not a child
    ]
    selfs = self_times(spans)
    assert selfs[(0, "chain")] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs[(0, "a")] == pytest.approx(2.0)
    assert selfs[(0, "x")] == pytest.approx(1.0)
    assert selfs[(1, "chain")] == pytest.approx(5.0)


def test_nested_self_times_add_up_to_the_root():
    spans = [
        Span("chain", 0.0, 9.0, None, 3),
        Span("extract", 0.5, 2.0, "chain", 3),
        Span("pipeline.assign", 2.0, 8.0, "chain", 3),
        Span("cc", 2.5, 6.0, "pipeline.assign", 3),
    ]
    selfs = self_times(spans)
    assert sum(selfs.values()) == pytest.approx(9.0)
    assert selfs[(3, "pipeline.assign")] == pytest.approx(2.5)


def test_tracer_records_parents_and_switches_job_groups():
    groups = []
    tracer = Tracer(groups.append)
    with tracer.span("chain", 7):
        with tracer.span("extract", 7):
            pass
    assert groups == [job_group(7, "chain"), job_group(7, "extract"), job_group(7, "chain"), None]
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["extract"].parent == "chain" and by_name["chain"].parent is None
    assert by_name["chain"].start <= by_name["extract"].start <= by_name["extract"].end <= by_name["chain"].end


def test_benchmark_json_lists_the_metrics_the_benchmark_reports():
    from run import end_to_end
    from worker import per_layer_metrics

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert listed == per_layer_metrics()
    result = {
        "untraced_s": [2.0, 4.0],
        "turns_per_rep": 300,
        "setup": {"session_s": 1.0, "build_s": [9.0, 1.0, 2.0], "bootstrap_s": 0.5, "warmup_s": 3.0},
    }
    metrics = end_to_end(result)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [(k, u) for k, (_, u) in metrics.items()]
    assert metrics["resolve_s"][0] == 3.0 and metrics["turns_per_s"][0] == 100.0
    assert metrics["setup_s"][0] == 1.0 + 2.0 + 0.5 + 3.0
