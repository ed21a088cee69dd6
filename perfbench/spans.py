"""Spans around layer calls, and the per-layer numbers derived from them.

A :class:`Tracer` records one span per call into a layer's public
function: name, parent, wall-clock start and end, and marks taken
inside the span (``built`` when the call returned its DataFrame).
Spans stay in memory. Each span also runs under its own Spark job
group. After the session stops, :func:`parse_event_log` reads Spark's
uncompressed event log and :func:`layer_metrics` charges every job to
the innermost span that owns it: by job group where the job carries
one, else by submission time (jobs the program launches from its own
thread pools carry no group).

A disabled tracer records nothing and sets no job group; untraced runs
use one, so the end-to-end numbers carry no tracing cost. A traced run
turns the tracer on for every other warm iteration, so the untraced
ones in between give the tracing overhead in the same session.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time

_GROUP_PREFIX = "perfbench-span-"
_PACKAGE_DIR = os.sep + "auraverse_etl_pipeline_spark" + os.sep
_MODULE_PROP = "perfbench.module"
#: DataFrame / writer methods that run jobs
_ACTIONS = {
    "DataFrame": ("collect", "count", "first", "head", "take", "toPandas", "isEmpty",
                  "checkpoint", "localCheckpoint", "foreach", "foreachPartition"),
    "DataFrameWriter": ("save", "parquet", "json", "csv", "text", "orc", "insertInto", "saveAsTable"),
    "RDD": ("collect", "count", "take", "first", "reduce", "fold", "aggregate", "foreach",
            "foreachPartition", "zipWithIndex", "isEmpty", "sum", "collectAsMap", "countByKey"),
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{_GROUP_PREFIX}{span['id']}", span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; yields the span dict (or a
        throwaway dict when disabled) so the block can add marks and
        attributes."""
        if not self.enabled:
            yield {"attrs": {}, "marks": {}}
            return
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "t0": time.time(),
            "t1": None,
            "marks": {},
            "attrs": {},
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            span["t1"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def mark(self, span: dict, key: str) -> None:
        if self.enabled:
            span["marks"][key] = time.time()


def _trigger_site() -> str:
    """``module:line`` of the innermost program frame on the calling
    thread's stack and of its program caller (a shared helper such as
    a lineage cut says little alone), or ``benchmark`` when the
    benchmark called the action itself."""
    sites = []
    f = sys._getframe(2)
    while f is not None and len(sites) < 2:
        name = f.f_code.co_filename
        i = name.find(_PACKAGE_DIR)
        if i >= 0:
            sites.append(f"{name[i + len(_PACKAGE_DIR):]}:{f.f_lineno}")
        f = f.f_back
    return " < ".join(sites) or "benchmark"


@contextlib.contextmanager
def label_jobs_by_module():
    """Tag every job with the program module and line that triggered it.

    Classic PySpark records no Python call site for DataFrame actions,
    so the event log cannot say which module ran a job. While this is
    active, each action or write first stores the innermost program
    frame in a Spark local property, which the job's event carries
    (jobs Spark starts on its own threads for the query inherit it).
    The outermost action wins: a ``first`` that calls ``take`` keeps
    the site of the ``first``."""
    from pyspark import RDD, SparkContext
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    def wrap(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            sc = SparkContext._active_spark_context
            if sc is None:
                return fn(*args, **kwargs)
            prev = sc.getLocalProperty(_MODULE_PROP)
            sc.setLocalProperty(_MODULE_PROP, prev or _trigger_site())
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty(_MODULE_PROP, prev)

        return inner

    saved = []
    for cls in (DataFrame, DataFrameWriter, RDD):
        for name in _ACTIONS[cls.__name__]:
            orig = cls.__dict__.get(name)
            if orig is not None:
                saved.append((cls, name, orig))
                setattr(cls, name, wrap(orig))
    try:
        yield
    finally:
        for cls, name, orig in saved:
            setattr(cls, name, orig)


def tree_snapshot(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} for the data files under ``path``
    (hidden and ``_``-prefixed commit markers excluded)."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            out[full] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, path: str) -> tuple[int, int]:
    """(files, bytes) created or rewritten under ``path`` since ``before``."""
    after = tree_snapshot(path)
    new = [k for k, v in after.items() if before.get(k) != v]
    return len(new), sum(after[k][0] for k in new)


def phase_ms(df) -> float:
    """Catalyst time of ``df``'s own query execution: forces its
    optimization and physical planning, then sums the tracker's
    phases (analysis ran when the DataFrame was built)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for p in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def parse_event_log(log_dir: str) -> dict:
    """Jobs and their task totals from every event log in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(
        os.path.join(d, f) for d, _dirs, files in os.walk(log_dir) for f in files
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    trigger = props.get(_MODULE_PROP) or "other"
                    job = {
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "trigger": trigger,
                        "module": trigger.split(":")[0],
                        "end": None,
                        "tasks": 0,
                        "failed_tasks": 0,
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "shuffle_b": 0,
                    }
                    jobs[job["id"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job["id"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["failed_tasks"] += bool(info.get("Failed"))
                    job["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    job["shuffle_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"])}


def _owner(job: dict, spans: list[dict], by_id: dict[int, dict]) -> dict | None:
    grp = job["group"]
    if grp and grp.startswith(_GROUP_PREFIX):
        return by_id.get(int(grp[len(_GROUP_PREFIX):]))
    best = None
    for s in spans:
        if s["t0"] <= job["submit"] <= s["t1"]:
            if best is None or s["t0"] >= best["t0"]:
                best = s
    return best


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def span_measures(spans: list[dict], log: dict, cores: int) -> dict[int, dict]:
    """Per-span measures; job counts are inclusive of child spans."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    owned: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for job in log["jobs"]:
        s = _owner(job, spans, by_id)
        while s is not None:
            owned[s["id"]].append(job)
            s = by_id.get(s["parent"]) if s["parent"] is not None else None
    out = {}
    for s in spans:
        wall = s["t1"] - s["t0"]
        js = owned[s["id"]]
        run_s = sum(j["run_s"] for j in js)
        m = {
            "wall_s": wall,
            "self_s": wall - _union_len([(c["t0"], c["t1"]) for c in children[s["id"]]]),
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "task_run_s": run_s,
            "cpu_s": sum(j["cpu_s"] for j in js),
            "idle_core_s": wall * cores - run_s,
            "failed_tasks": sum(j["failed_tasks"] for j in js),
            "shuffle_mb": sum(j["shuffle_b"] for j in js) / 1e6,
        }
        m["cpu_share"] = m["cpu_s"] / run_s if run_s else 0.0
        if "built" in s["marks"]:
            m["build_s"] = s["marks"]["built"] - s["t0"]
            m["eager_jobs"] = sum(1 for j in js if j["submit"] <= s["marks"]["built"])
            m["eager_share"] = m["build_s"] / wall if wall else 0.0
        batches: dict[str, list[float]] = {}
        for j in js:
            if j["batch"] is not None and j["end"] is not None:
                batches.setdefault(j["batch"], []).extend([j["submit"], j["end"]])
        if batches:
            m["batch_s"] = statistics.median(max(v) - min(v) for v in batches.values())
        m.update(s["attrs"])
        out[s["id"]] = m
    return out


def layer_metrics(spans: list[dict], log: dict, cores: int) -> dict[str, float]:
    """``<span>.<measure>`` → median over the span's occurrences."""
    per = span_measures(spans, log, cores)
    acc: dict[str, list[float]] = {}
    for s in spans:
        for k, v in per[s["id"]].items():
            acc.setdefault(f"{s['name']}.{k}", []).append(float(v))
    return {k: statistics.median(v) for k, v in acc.items()}


def module_split(log: dict, spans: list[dict], key: str = "module") -> dict[str, dict]:
    """Jobs and task run time per program module (``key="trigger"``:
    per module and line) that triggered them, over the jobs some span
    owns."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, dict] = {}
    for j in log["jobs"]:
        if _owner(j, spans, by_id) is None:
            continue
        row = out.setdefault(j[key], {"jobs": 0, "task_run_s": 0.0})
        row["jobs"] += 1
        row["task_run_s"] += j["run_s"]
    return out
