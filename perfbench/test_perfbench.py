"""Tests of the benchmark itself.

    python -m pytest perfbench -q -m ""

The fast tests cover the event-log fold, the attribution of jobs to
spans, the scaling of pass times by the reference job and the medallion
feed's expected version counts; the ``slow`` ones run every workload
once in smoke mode, untraced and traced, through the command line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import spans  # noqa: E402


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def _task(stage: int, launch: int, finish: int, run_ms: int) -> str:
    return _event(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": False},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                "Input Metrics": {"Bytes Read": 100, "Records Read": 5},
            },
        },
    )


def _job(job_id: int, submitted: int, stages: list[int], group: str | None = None) -> str:
    props = {"spark.jobGroup.id": group} if group else {}
    return _event("SparkListenerJobStart", **{
        "Job ID": job_id, "Submission Time": submitted, "Stage IDs": stages,
        "Properties": props,
    })


def test_event_log_fold(tmp_path):
    lines = [
        _job(0, 1000, [0, 1], "pb0"),
        _job(1, 2000, [2]),
        _task(0, 0, 500, 400),
        _task(0, 0, 1500, 1400),
        _task(1, 2000, 2250, 200),
        _task(2, 0, 9000, 9000),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0, "Completion Time": 1}}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1, "Completion Time": 2}}),
    ]
    (tmp_path / "local-1").write_text("\n".join(lines) + "\n")
    first, second = spans.parse_event_log(str(tmp_path))
    assert (first.submitted_ms, first.group, second.group) == (1000, "pb0", None)
    c = first.counters
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 2, 3)
    assert c["task_s"] == pytest.approx(2.0)
    assert c["critical_s"] == pytest.approx(1.5 + 0.25)  # longest task per stage
    assert (c["shuffle_write_bytes"], c["scan_bytes"], c["scan_rows"]) == (30, 300, 15)
    assert (second.counters["tasks"], second.counters["task_s"]) == (1, 9.0)


def test_jobs_fold_onto_spans_by_submission_time(tmp_path):
    """Jobs count for the span their submission time falls in, whether or
    not they carry its job group: a helper thread's jobs have none."""
    tracer = spans.Tracer(type("Spark", (), {"sparkContext": None}), False, [], 0)
    a = spans.Span("plans.build/q1", "pb0", start_ms=100, end_ms=200)
    b = spans.Span("exec.action/q1", "pb1", start_ms=200, end_ms=300)
    inner = spans.Span("streaming.build", "pb2", start_ms=220, end_ms=240)
    tracer.spans = [a, inner, b]
    lines = [
        _job(0, 150, [0], "pb0"),
        _job(1, 200, [1], "pb1"),  # shared boundary ms: the later span
        _job(2, 230, [2]),  # unlabelled, inside the nested span
        _job(3, 250, [3]),  # unlabelled, back in the outer span
        _job(4, 260, [4], "pb0"),  # labelled with another span's group
        _job(5, 400, [5], "pb1"),  # after every span: left out
    ] + [_task(s, 0, 10, 10) for s in range(6)]
    (tmp_path / "local-1").write_text("\n".join(lines) + "\n")
    tracer.attach(str(tmp_path))
    assert [sp.counters["jobs"] for sp in (a, b, inner)] == [1, 3, 1]
    assert tracer.total("exec.action/", "tasks") == 3
    assert (tracer.unlabelled, tracer.mislabelled) == (2, 1)


def test_passes_scale_by_their_median_reference_job():
    import workloads

    bench = workloads.Bench.__new__(workloads.Bench)
    bench.passes = 2
    bench.ops = [(0, "a", 1.0), (0, "b", 3.0), (1, "a", 2.0), (1, "b", 2.0)]
    steady = workloads.REF_STEADY_S
    # one slow reference job per pass does not move the median
    bench.refs = [(0, 2 * steady), (0, 2 * steady), (0, 9.0),
                  (1, steady), (1, steady), (1, 9.0)]
    assert bench.scales() == pytest.approx([0.5, 1.0])
    assert bench.pass_walls(scaled=False) == [4.0, 4.0]
    assert bench.pass_walls() == pytest.approx([2.0, 4.0])


def test_feed_expected_counts_follow_the_batches(tmp_path):
    import hospital

    feed = hospital.HospitalFeed(3, n_patients=50, n_doctors=10, n_rows=200)
    before = {e: (x.current, x.total) for e, x in feed.expected.items()}
    assert all(cur == tot for cur, tot in before.values())
    months = feed.batch()
    assert len(months) == 2
    for entity, exp in feed.expected.items():
        cur0, tot0 = before[entity]
        assert exp.current > cur0  # new keys
        assert exp.total - tot0 > exp.current - cur0  # plus changed versions
    again = hospital.HospitalFeed(3, n_patients=50, n_doctors=10, n_rows=200)
    again.batch()
    assert again.write(str(tmp_path / "a")) == feed.write(str(tmp_path / "b"))


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["catalog", "medallion_incremental"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    env, result = json.loads(lines[-2])["env"], json.loads(lines[-1])
    assert env["smoke"] and env["workload"] == workload
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert set(result["metrics"]) == set(names)
