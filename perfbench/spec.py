"""What the benchmark measures: workloads, metric names and units.
``BENCHMARK.json`` at the repository root repeats the workloads, the
end-to-end metrics with their bounds and the per-layer metric names;
``test_perfbench.py`` keeps the two in step. The prediction table
(which layer metric should move which end-to-end metric, and where
nothing should move) is in ``README.md``.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

WORKLOADS = {
    "documents": {
        "why": "the paper's document path: ingest surface bound by Python-worker kernels, then the curation funnel bound by driver-side eager jobs",
        "inputs": "ingest: 250 messy documents recombined from the two fixtures, 1 KB to 150 KB Pareto-tailed (about 1.3 MB), 8 JSONL shards dealt by size, parse_file over all 250; curation: 500 prose documents shaped like the testdata documents table, one in twenty carrying a fixture fragment, plus 10% exact copies, 10% near copies (3 word edits) and 5% blocked-domain URIs (600 documents)",
        "items": "documents (ingested plus curated)",
    },
    "analytics": {
        "why": "JVM-only registry queries plus their streaming twin over micro-batches: the bypass where ingest or driver-job changes predict no movement",
        "inputs": "six registry queries over a generated star schema of 15k orders (about 60k lineitem rows), seed-permuted order, noop sink; hourly windowed counts over its 10k events streamed as 3 micro-batches",
        "items": "queries (six batch, one streamed)",
    },
}
WORKLOAD_NAMES = tuple(WORKLOADS)

#: name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("iter_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("peak_mem_mb", "MB", "lower", 0.25),
]

_ALL = ("wall_s", "jobs", "tasks", "task_run_s", "cpu_s", "idle_core_s")
_UNITS = {
    "wall_s": "s", "self_s": "s", "build_s": "s", "task_run_s": "s", "cpu_s": "s",
    "idle_core_s": "s", "batch_s": "s", "jobs": "count", "tasks": "count",
    "eager_jobs": "count", "failed_tasks": "count", "out_files": "count",
    "shuffle_mb": "MB", "out_mb": "MB", "catalyst_ms": "ms", "ms_per_doc": "ms",
    "ms_p50": "ms", "ms_p99": "ms", "cpu_share": "ratio", "eager_share": "ratio",
    "boundary_share": "ratio", "overhead_s": "s", "iter_s": "s",
}

ANALYTICS_QUERIES = (
    "q01_pricing_summary",
    "q03_region_nation_revenue",
    "q05_returned_customers",
    "q12_orders_monthly_kpis",
    "q18_large_quantity_orders",
    "q20_hourly_event_windows",
)

#: span -> measures in BENCHMARK.json's per-layer list
SPANS = {
    "session.get_spark": ("wall_s",),
    "runtime.ship_package": ("wall_s",),
    "sources.read_jsonl_corpus": ("wall_s",),
    "ingest.detect_fragments": _ALL + ("cpu_share", "shuffle_mb", "failed_tasks"),
    "ingest.extract_records": ("wall_s", "self_s", "build_s", "eager_jobs", "task_run_s", "cpu_share"),
    "sources.write_parquet": ("wall_s", "jobs", "tasks", "task_run_s", "idle_core_s", "out_files", "out_mb"),
    "ingest.infer_schema_fields": _ALL + ("cpu_share", "shuffle_mb"),
    "ingest.convert_corpus": ("wall_s", "self_s", "build_s", "eager_jobs", "task_run_s", "cpu_share"),
    "sources.write_json": ("wall_s", "jobs", "tasks", "task_run_s", "idle_core_s", "out_files", "out_mb"),
    "operators.crawl_to_corpus_funnel": (
        "wall_s", "self_s", "build_s", "eager_jobs", "eager_share", "jobs", "tasks",
        "task_run_s", "cpu_s", "cpu_share", "idle_core_s", "shuffle_mb", "failed_tasks",
    ),
    **{f"plans.{q}": ("wall_s", "catalyst_ms", "tasks", "shuffle_mb") for q in ANALYTICS_QUERIES},
    "streaming.run_stream_to_memory": (
        "wall_s", "batch_s", "jobs", "tasks", "task_run_s", "idle_core_s", "shuffle_mb",
    ),
}

DERIVED = (
    "ingest.detect_document.ms_per_doc",
    "ingest.normalize_fragment.ms_per_doc",
    "ingest.fields_for_data.ms_per_doc",
    "ingest.convert_document.ms_per_doc",
    "ingest.boundary_share",
    "ingest.parse_file.ms_p50",
    "ingest.parse_file.ms_p99",
    "spark.failed_tasks",
    "trace.iter_s",
    "trace.overhead_s",
)


def per_layer_names() -> list[str]:
    names = [f"{span}.{m}" for span, ms in SPANS.items() for m in ms]
    return names + list(DERIVED)


def _last(name: str) -> str:
    return name.rsplit(".", 1)[-1]


def per_layer_units() -> list[tuple[str, str]]:
    return [(n, _UNITS.get(_last(n), "count")) for n in per_layer_names()]


def per_layer_better(name: str) -> str:
    return "higher" if _last(name) == "cpu_share" else "lower"


def end_to_end_units() -> list[tuple[str, str]]:
    return [(n, u) for n, u, _b, _bound in END_TO_END]


def benchmark_json(run_seconds: int) -> dict:
    """The contents of ``BENCHMARK.json``."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": per_layer_better(n)} for n, u in per_layer_units()
        ],
    }
