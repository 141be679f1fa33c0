"""Tests of the benchmark's trace parsing: spans and self time, the Spark
event-log reader, the plan summary and the streaming totals.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # repository root

from tracing import Span, Tracer, parse_event_log, plan_summary, self_times, stream_totals  # noqa: E402


def test_spans_nest_and_inherit_the_op_id():
    t = Tracer()
    with t.span("op", "warm2:q1"):
        with t.span("construct"):
            pass
        with t.span("execute"):
            pass
    op, construct, execute = t.spans
    assert (construct.parent, execute.parent, op.parent) == (op.id, op.id, None)
    assert {s.op for s in t.spans} == {"warm2:q1"}
    assert op.start <= construct.start <= construct.end <= execute.start <= execute.end <= op.end
    assert [d["name"] for d in t.to_json()] == ["op", "construct", "execute"]


def test_self_time_subtracts_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "a"),
        Span(1, "construct", 1.0, 4.0, 0, "a"),
        Span(2, "execute", 4.0, 9.0, 0, "a"),
        Span(3, "op", 10.0, 12.0, None, "b"),
    ]
    assert self_times(spans) == {"op": 2.0 + 2.0, "construct": 3.0, "execute": 5.0}


def _task(stage: int, run_ms: int, cpu_ns: int, gc_ms: int, read: int, shuffle: int, spill: int) -> str:
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Input Metrics": {"Bytes Read": read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        }
    )


def test_event_log_sums_task_metrics_per_job_group():
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        json.dumps(
            {
                "Event": "SparkListenerJobStart",
                "Job ID": 0,
                "Stage IDs": [0, 1],
                "Properties": {"spark.jobGroup.id": "warm2:q1"},
            }
        ),
        # job 1 re-lists stage 1 (skipped, already computed) and adds stage 2
        json.dumps(
            {
                "Event": "SparkListenerJobStart",
                "Job ID": 1,
                "Stage IDs": [1, 2],
                "Properties": {"spark.jobGroup.id": "warm2:q3"},
            }
        ),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}}),
        _task(0, 100, 50_000_000, 10, 1000, 0, 0),
        _task(0, 300, 150_000_000, 0, 3000, 0, 0),
        _task(1, 200, 100_000_000, 5, 0, 700, 64),
        _task(2, 50, 25_000_000, 0, 0, 0, 0),
        _task(3, 10, 0, 0, 0, 0, 0),
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}}),
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}}),
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}}),
    ]
    g = parse_event_log(lines)
    q1, q3, rest = g["warm2:q1"], g["warm2:q3"], g[""]
    assert (q1.jobs, q1.stages, q1.tasks) == (1, 2, 3)
    assert abs(q1.task_run_s - 0.6) < 1e-9 and abs(q1.task_cpu_s - 0.3) < 1e-9
    assert abs(q1.gc_s - 0.015) < 1e-9
    assert (q1.input_bytes, q1.shuffle_write_bytes, q1.spill_bytes) == (4000, 700, 64)
    assert (q3.jobs, q3.stages, q3.tasks) == (1, 1, 1)
    assert (rest.jobs, rest.tasks) == (1, 1)


def test_plan_summary_counts_only_the_final_plan():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- AQEShuffleRead coalesced
      +- ShuffleQueryStage 1
         +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=20]
            +- *(2) BroadcastHashJoin [k#1], [k#3], Inner, BuildRight, false
               :- *(2) ColumnarToRow
               :  +- FileScan parquet [k#1,v#2] Batched: true, ReadSchema: struct<k:bigint,v:double>
               +- BroadcastQueryStage 0
                  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false)
                     +- *(1) FileScan parquet [k#3] Batched: true, ReadSchema: struct<k:bigint>
+- == Initial Plan ==
   HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
      +- SortMergeJoin [k#1], [k#3], Inner
         :- Exchange hashpartitioning(k#1, 4)
         :  +- FileScan parquet [k#1,v#2] ReadSchema: struct<k:bigint,v:double>
         +- Exchange hashpartitioning(k#3, 4)
            +- FileScan parquet [k#3] ReadSchema: struct<k:bigint>
"""
    assert plan_summary(plan) == {"exchanges": 2, "broadcasts": 1, "scans": 2}


def test_stream_totals():
    progress = [
        {"rows": 10, "add_batch_s": 0.5, "commit_s": 0.1, "state_commit_s": 0.2, "state_rows": 7},
        {"rows": 5, "add_batch_s": 0.25, "commit_s": 0.1, "state_commit_s": 0.1, "state_rows": 9},
    ]
    t = stream_totals(progress)
    assert t["batches"] == 2 and t["state_rows"] == 9
    assert abs(t["add_batch_s"] - 0.75) < 1e-9 and abs(t["commit_s"] - 0.2) < 1e-9
    assert abs(t["state_commit_s"] - 0.3) < 1e-9
    assert stream_totals([])["batches"] == 0
