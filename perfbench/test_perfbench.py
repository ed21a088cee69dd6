"""The benchmark's own tests: generator determinism, name grammar,
BENCHMARK.json agreement, and a tiny-input smoke run of every workload.

    python -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark (about a minute each); ``-k "not smoke"``
skips them.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spec  # noqa: E402

UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digests(seed: int) -> list[str]:
    docs, p1 = gen.ingest_docs(ROOT, seed, 40)
    tables, p2 = gen.star_tables(seed, 300)
    crawl, p3 = gen.curation_docs(ROOT, seed, 60)
    return [
        gen.digest(docs, p1),
        gen.digest(*(tables[k] for k in sorted(tables)), p2),
        gen.digest(crawl, p3),
    ]


def test_generators_are_seeded():
    a, b, c = _digests(7), _digests(7), _digests(8)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_planted_counts():
    docs, planted = gen.curation_docs(ROOT, 3, 100)
    assert planted == {
        "docs": 120, "base": 100, "dup_suffixed": 5, "with_fragments": 5,
        "exact_copies": 10, "near_copies": 10, "blocked": 6,
    }
    assert docs["text"].duplicated().sum() == 10
    base = docs["text"].iloc[:100]
    prose = base[~base.str.contains("\n")]
    assert len(prose) == 95 and prose.str.split().str.len().between(10, 101).all()
    assert base.str.endswith(" dup").sum() == 5
    blocked = docs["uri"].str.contains("|".join(map(re.escape, gen.BLOCKED_DOMAINS)))
    assert blocked.sum() == 6
    _, p = gen.ingest_docs(ROOT, 3, 400)
    assert p["max_doc_bytes"] <= 150_100 and p["docs_over_100kb"] >= 1


def test_metric_names_and_units():
    e2e = [n for n, *_ in spec.END_TO_END]
    layer = spec.per_layer_names()
    names = e2e + layer + list(spec.WORKLOAD_NAMES)
    assert all(spec.NAME_RE.match(n) for n in names), [n for n in names if not spec.NAME_RE.match(n)]
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert 1 <= len(layer) <= 128
    assert all(UNIT_RE.match(u) for _, u in spec.per_layer_units() + spec.end_to_end_units())
    assert all(0 < b <= 0.25 for *_, b in spec.END_TO_END)
    assert "setup_s" in e2e


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert bench == spec.benchmark_json(bench["run_seconds"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    assert 2 <= len(bench["workloads"]) <= 8


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "documents", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", spec.WORKLOAD_NAMES)
def test_smoke(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, p.stdout[-3000:]
    want = spec.per_layer_units() if trace else spec.end_to_end_units()
    assert {n: m["unit"] for n, m in result["metrics"].items()} == dict(want)
    for name, _unit in spec.end_to_end_units():
        assert f"  {name} = " in p.stdout
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
