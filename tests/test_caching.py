"""operators/caching.py: the one eager cut and the one overlapped-jobs
helper, plus the guard that keeps them the only spellings."""

from __future__ import annotations

import ast
import pathlib
import threading
import time
from functools import partial

import pytest

from auraverse_etl_pipeline_spark.operators.caching import run_jobs

PKG = pathlib.Path(__file__).resolve().parents[1] / "auraverse_etl_pipeline_spark"


def test_run_jobs_keeps_caller_job_group(spark):
    """Overlapped jobs are charged to the caller's job group: each
    threaded fn sees the group and its Spark jobs are filed under it."""
    sc = spark.sparkContext
    sc.setJobGroup("run_jobs_group", "overlapped driver jobs")
    try:

        def job() -> str | None:
            spark.range(10).count()
            return sc.getLocalProperty("spark.jobGroup.id")

        assert run_jobs([job, job]) == ["run_jobs_group", "run_jobs_group"]
        assert len(sc.statusTracker().getJobIdsForGroup("run_jobs_group")) >= 2
    finally:
        sc._jsc.sc().clearJobGroup()


def test_run_jobs_drains_siblings_before_raising(spark):
    """A planted failure in the first fn re-raises only after the slower
    sibling has finished: no sibling is still running at the raise."""
    finished = threading.Event()

    def planted() -> None:
        raise ValueError("planted failure")

    def slow() -> str:
        time.sleep(0.5)
        finished.set()
        return "slow"

    with pytest.raises(ValueError, match="planted failure"):
        run_jobs([planted, slow, lambda: "quick"])
    assert finished.is_set()


def test_run_jobs_returns_results_in_submission_order(spark):
    def after(delay: float, value: str) -> str:
        time.sleep(delay)
        return value

    fns = [partial(after, 0.3, "a"), partial(after, 0.0, "b"), partial(after, 0.1, "c")]
    assert run_jobs(fns) == ["a", "b", "c"]
    # a single fn runs inline on the caller's thread; none is a no-op
    assert run_jobs([threading.current_thread]) == [threading.current_thread()]
    assert run_jobs([]) == []


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    return None


def test_cuts_and_driver_pools_are_spelled_only_in_caching():
    """No package module but operators/caching.py calls a checkpoint
    API or names ThreadPoolExecutor: cuts go through ``cut`` and
    overlapped driver jobs through ``run_jobs``."""
    checkpoint_calls = {"localCheckpoint", "checkpoint", "getCheckpointDir"}
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "operators" / "caching.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in checkpoint_calls
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno} .{node.func.attr}(")
            elif _name(node) == "ThreadPoolExecutor":
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno} ThreadPoolExecutor")
    assert not offenders, offenders
