"""Compare the ``curation`` workload's generated crawl with a real
documents table: per-stage survivor shares and warm funnel wall.

    python3 perfbench/probe_curation.py --docs <dir>/documents.parquet --runs 3

``--docs`` is a parquet table with ``doc_id`` and ``text`` columns (the
testdata ``documents`` table has them). The real table carries no URIs,
so its ``domain_blocklist`` stage passes everything; the generated crawl
runs exactly as the benchmark runs it. The funnel's reference slice is
the even-id half of the original documents in both. This is a hand
probe, not part of the benchmark command; its output backs the traffic
figures in ``README.md``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def funnel(spark, docs, ref, runs: int, **kw):
    from auraverse_etl_pipeline_spark.operators.e2e import crawl_to_corpus_funnel

    walls, rows = [], None
    for _ in range(runs + 1):
        t0 = time.perf_counter()
        rows = crawl_to_corpus_funnel(docs, ref, **kw).collect()
        walls.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    return sorted(rows, key=lambda r: r.stage_id), walls[0], statistics.median(walls[1:])


def show(label: str, rows, first: float, warm: float) -> None:
    print(f"{label}: first {first:.2f} s, warm median {warm:.2f} s")
    print(f"  {'stage':<18}{'in':>7}{'out':>7}{'kept':>8}")
    for r in rows[:-1]:
        kept = r.docs_out / r.docs_in if r.docs_in else 0.0
        print(f"  {r.stage:<18}{r.docs_in:>7}{r.docs_out:>7}{kept:>8.3f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", required=True, help="parquet table with doc_id and text")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3, help="warm runs per corpus")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import gen

    tmp = tempfile.mkdtemp(prefix="probe_curation_")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from auraverse_etl_pipeline_spark.runtime import ship_package
    from auraverse_etl_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=2 * cores,
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    real = spark.read.parquet(args.docs).select("doc_id", "text")
    n_real = real.count()
    rows, first, warm = funnel(spark, real, gen.trusted_slice(real, n_real), args.runs)
    show(f"real ({n_real} documents, {args.docs})", rows, first, warm)

    docs, planted = gen.curation_docs(ROOT, args.seed, gen.CURATION_BASE)
    gen.write_parquet_tables({"docs": docs}, tmp)
    crawl = spark.read.parquet(os.path.join(tmp, "docs.parquet"))
    ref = gen.trusted_slice(crawl, planted["base"])
    rows, first, warm = funnel(spark, crawl, ref, args.runs,
                               blocked_domains=gen.BLOCKED_DOMAINS, uri_col="uri")
    show(f"generated (seed {args.seed}, {planted})", rows, first, warm)
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
