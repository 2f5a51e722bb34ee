from pathlib import Path

import pytest

from perfbench.eventlog import read

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.json"


def test_task_metrics_fold_into_job_groups():
    groups = read(FIXTURE)
    g0 = groups["pb-0"]
    assert g0["tasks"] == 2
    assert g0["executor_run_s"] == pytest.approx(2.0)
    assert g0["executor_cpu_s"] == pytest.approx(1.25)
    assert g0["gc_s"] == pytest.approx(0.1)
    assert g0["shuffle_write_mb"] == pytest.approx(2.0)
    assert g0["spill_mb"] == pytest.approx(1.0)  # disk bytes, not memory size
    assert g0["input_mb"] == pytest.approx(4.0)


def test_stage_submission_group_wins_over_job_without_group():
    g1 = read(FIXTURE)["pb-1"]
    assert g1["tasks"] == 2
    assert g1["executor_run_s"] == pytest.approx(0.5)
    assert g1["executor_cpu_s"] == pytest.approx(0.3)
    assert g1["gc_s"] == pytest.approx(0.05)


def test_tasks_outside_any_group_are_kept_apart():
    none = read(FIXTURE)[None]
    assert none["tasks"] == 2
    assert none["executor_run_s"] == pytest.approx(1.0)
