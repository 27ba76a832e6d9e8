"""Span roll-up on synthetic event logs, and the traced-run contract:
job and stage counts per span repeat exactly across two traced runs."""

import json
import os
import subprocess
import sys

import pytest

from spans import GROUP_PREFIX, Span, _covered, read_event_log, rollup

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_covered_merges_and_clips_intervals():
    assert _covered([], 0, 10) == 0
    assert _covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert _covered([(-5, 2), (9, 20)], 0, 10) == 3


def _write_log(path, events):
    os.makedirs(path)
    with open(f"{path}/local-1", "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _job(jid, group, start, end, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    evs = [{"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
            "Properties": props}]
    for sid in stages:
        evs += [
            {"Event": "SparkListenerStageSubmitted",
             "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}, "Properties": props},
            {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
             "Task Metrics": {"Executor Run Time": 500, "JVM GC Time": 100,
                              "Disk Bytes Spilled": 0,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20},
                              "Output Metrics": {"Records Written": 10,
                                                 "Bytes Written": 2 << 20}}},
            {"Event": "SparkListenerStageCompleted",
             "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}},
        ]
    evs.append({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end})
    return evs


def test_rollup_counts_inclusive_self_and_driver_time(tmp_path):
    log = str(tmp_path / "log")
    _write_log(log, _job(0, f"{GROUP_PREFIX}0", 1000, 2000, [0])
               + _job(1, f"{GROUP_PREFIX}1", 4000, 6000, [1, 2])
               + _job(2, None, 7000, 7500, [3]))
    jobs, groups = read_event_log(log)
    parent = Span(0, "plans.medallion.build_silver", None, "unit1", 0.0, 10.0)
    child = Span(1, "operators.scd.apply_scd2", 0, "unit1", 3.0, 7.0)
    unowned = rollup([parent, child], jobs, groups)
    assert unowned == 1
    assert child.stats["jobs"] == 1 and child.stats["stages"] == 2
    assert parent.stats["jobs"] == 2 and parent.stats["stages"] == 3
    assert parent.stats["task_s"] == pytest.approx(1.5)
    assert parent.stats["gc_s"] == pytest.approx(0.3)
    assert parent.stats["shuffle_write_mb"] == pytest.approx(3.0)
    assert parent.stats["output_rows"] == 30
    assert parent.stats["output_mb"] == pytest.approx(6.0)
    assert parent.stats["self_s"] == pytest.approx(6.0)
    assert child.stats["driver_s"] == pytest.approx(2.0)
    # jobs cover [1, 2] and [4, 6] of the parent's [0, 10]
    assert parent.stats["driver_s"] == pytest.approx(7.0)


def _traced(workload, seed):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"], p.stderr[-3000:]
    return {
        k: v["value"] for k, v in result["metrics"].items()
        if k.endswith((".jobs", ".stages"))
    }


@pytest.mark.parametrize("workload", ["medallion_incremental", "lake_query_mix"])
def test_job_and_stage_counts_repeat_across_traced_runs(workload):
    first, second = _traced(workload, 3), _traced(workload, 3)
    assert first == second
    assert any(first.values())
