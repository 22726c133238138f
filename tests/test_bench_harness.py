"""bench.py Phase B CPU sets: derived from the affinity mask, so the
pinned scaling children start on whatever host the bench is given."""

import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402


def test_scaling_plan_disjoint_when_the_host_has_room():
    plan = bench.scaling_plan(range(32))
    assert (plan["low_cpus"], plan["high_cpus"]) == (2, 8)
    assert plan["disjoint"]
    assert plan["high_set"] == "0,1,2,3,4,5,6,7" and plan["low_set"] == "8,9"


@pytest.mark.parametrize("cpus, levels, disjoint", [
    (range(4), (1, 4), False),
    (range(5), (1, 4), True),
    (range(8), (2, 8), False),
    ([2, 5, 9, 11], (1, 4), False),
])
def test_scaling_plan_small_hosts(cpus, levels, disjoint):
    plan = bench.scaling_plan(cpus)
    assert (plan["low_cpus"], plan["high_cpus"]) == levels
    assert plan["disjoint"] is disjoint
    high = plan["high_set"].split(",")
    low = plan["low_set"].split(",")
    assert len(high) == levels[1] and len(low) == levels[0]
    assert set(high) | set(low) <= {str(c) for c in cpus}
    assert bool(set(high) & set(low)) is not disjoint


@pytest.mark.skipif(shutil.which("taskset") is None, reason="no taskset")
def test_scaling_plan_sets_pin_on_this_host():
    plan = bench.scaling_plan(os.sched_getaffinity(0))
    for cpu_list in (plan["high_set"], plan["low_set"]):
        subprocess.run(["taskset", "-c", cpu_list, sys.executable, "-c", ""],
                       check=True)


def test_missing_reference_rules_fail_before_measuring(tmp_path, monkeypatch):
    """The F1 fixtures are parsed first: a missing reference rules file
    stops ``main`` with an error naming the setting, before any phase."""
    missing = str(tmp_path / "no_such_rules.py")
    monkeypatch.setattr(bench, "REFERENCE_RULES_PATH", missing)

    def measured(*_a, **_kw):
        raise AssertionError("a phase started before the fixture check")

    monkeypatch.setattr(bench, "prepare_transcripts", measured)
    monkeypatch.setattr(bench, "run_headline", measured)
    with pytest.raises(FileNotFoundError,
                       match="SPARK_GRAFT_REFERENCE_RULES") as err:
        bench.main()
    assert missing in str(err.value)
