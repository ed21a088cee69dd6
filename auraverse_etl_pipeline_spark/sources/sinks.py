"""Sinks (SURVEY.md §2.1 S2-S3).

The reference's sinks are a pretty-printed JSON file per document
(script.py:555-573, ``json.dump(..., indent=2, ensure_ascii=False)``)
and a console report (etl_parser.py:1096-1103). Corpus-scale
equivalents plus the faithful single-document forms:

- :func:`write_json` / :func:`write_parquet` — distributed sinks with
  the scale knobs that matter (compression, partitioning, target file
  count) spelled once.
- :func:`merged_json_pretty` — the byte-faithful ``indent=2`` rendering
  of a converted document (what the reference writes to
  ``<stem>_parsed2.json``).
- :func:`fragment_report` — the reference CLI's console summary, built
  from one aggregation pass.
"""

from __future__ import annotations

import json

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

from auraverse_etl_pipeline_spark.operators.caching import cut


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "gzip",
    coalesce: int | None = None,
) -> None:
    """JSON-lines sink. ``coalesce`` bounds output file count for
    small results (None = keep the plan's partitioning — at scale you
    want many files, not one)."""
    out = df.coalesce(coalesce) if coalesce else df
    out.write.mode(mode).option("compression", compression).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """Parquet sink; ``partition_by`` buckets the layout for partition
    pruning on the listed columns (e.g. fragments by format_type).

    Cluster first when the partition column is high-cardinality:
    ``df.repartition(*partition_by)`` upstream, or this write holds one
    open parquet writer per (task, value) — heap-bound at hundreds of
    values — and emits values × tasks small files. Not forced here:
    low-cardinality layouts and already-clustered inputs would pay a
    pointless shuffle (``compact_parquet`` exposes it as
    ``target_partitions``; ``compact_decisions`` and the IVF index
    writes apply it unconditionally)."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    target_partitions: int | None = None,
    compression: str = "zstd",
) -> None:
    """Small-files compaction: rewrite a parquet dataset with bounded
    file sizes — the maintenance pass every long-running ingest needs
    (streaming sinks and fine-grained partitioning both accrete small
    files, and at 100 TB the NameNode/list-cost and per-file open
    overhead dominate scans long before the bytes do).

    ``max_records_per_file`` bounds file size from above (Spark splits
    at the writer, no shuffle); ``target_partitions`` additionally
    repartitions to bound the file COUNT from below — by the partition
    columns when given, so each output partition directory is written
    by few tasks instead of all of them."""
    df = spark.read.parquet(src_path)
    if target_partitions is not None:
        df = (
            df.repartition(target_partitions, *partition_by)
            if partition_by
            else df.repartition(target_partitions)
        )
    w = (
        df.write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dst_path)


def compact_decisions(
    spark: SparkSession,
    decisions_path: str,
    order_col: str,
    id_cols: tuple[str, ...] = ("id",),
    dst_path: str | None = None,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    compression: str = "zstd",
    keep: str = "latest",
) -> DataFrame:
    """Retention compaction for append-only decision/verdict logs —
    the missing maintenance pass behind the streaming gates (every
    ``run_stream_*_gate`` loop appends one verdict row per document
    per scoring, forever). At 100 TB a decisions log outgrows the
    index it audits: re-scored documents accrete superseded rows and
    every micro-batch accretes small files. This pass keeps exactly
    ONE row per id — the latest by ``order_col`` (a batch id or
    scoring timestamp) — and rewrites the log with bounded file sizes
    (the :func:`compact_parquet` discipline).

    Shape: one hash aggregate (``max_by`` of the whole row over
    ``order_col`` — partial map-side combine, one fixed-width row per
    id on the shuffle, never a window sort over the full log).
    Precondition: (``id_cols``, ``order_col``) identifies a row — the
    gates guarantee it (one verdict per id per batch); ties would
    compact nondeterministically.

    ``dst_path=None`` rewrites IN PLACE: the survivors are eagerly
    checkpointed BEFORE the overwrite because the plan reads the very
    files it replaces (the read-then-overwrite lineage cut pinned in
    tests/test_streaming.py). A production pipeline at real scale
    compacts to a fresh ``dst_path`` and swaps, keeping the old log
    until readers drain; in-place is the single-writer spelling.
    The in-place checkpoint is :func:`~auraverse_etl_pipeline_spark.
    operators.caching.cut` (fault-tolerant when a checkpoint dir is set).

    ``keep`` picks the retention rule per log family: ``"latest"``
    (``max_by`` — the gates' re-score semantics) or ``"earliest"``
    (``min_by`` — first-writer-wins logs like the URL frontier, where
    the FIRST sighting is the record and later appends are noise).

    Returns the compacted log read back from its final path, so the
    caller sees exactly what is on disk."""
    if keep not in ("latest", "earliest"):
        raise ValueError(f"keep must be 'latest' or 'earliest', got {keep!r}")
    pick = F.max_by if keep == "latest" else F.min_by
    log = spark.read.parquet(decisions_path)
    ids = list(id_cols)
    rest = [c for c in log.columns if c not in ids]
    latest = (
        log.groupBy(*ids)
        .agg(pick(F.struct(*rest), F.col(order_col)).alias("_r"))
        .select(*ids, "_r.*")
    )
    if partition_by:
        # cluster by the partition columns first (the IvfIndex.save
        # rule): an unclustered partitioned write is tasks × values
        # open writers and values × tasks small files
        latest = latest.repartition(*partition_by)
    out = dst_path or decisions_path
    if dst_path is None:
        latest = cut(latest)
    w = (
        latest.write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(out)
    return spark.read.parquet(out)


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
    compression: str = "zstd",
) -> None:
    """Range-clustered layout: repartitionByRange + sortWithinPartitions
    on ``cluster_cols`` before writing, so every output file owns a
    disjoint key range and every row group inside it is sorted. Parquet
    min/max statistics then make predicate scans skip whole files and
    row groups — the poor man's Z-order, and the single highest-leverage
    layout decision for a 100 TB time- or key-filtered table."""
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )


def morton_code(c1, c2, bits: int = 16):
    """Z-order (Morton) interleave of two rank-bucketed keys — pure
    codegen'd bit arithmetic, no UDF. Callers bucket each column to
    [0, 2^bits) first (e.g. ``ntile`` or min-max scaling); interleaving
    the bits makes lexicographic order on the code approximate locality
    in BOTH dimensions."""
    z = F.lit(0).cast("bigint")
    a = (F.col(c1) if isinstance(c1, str) else c1).cast("bigint")
    b = (F.col(c2) if isinstance(c2, str) else c2).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    num_files: int | None = None,
    bits: int = 16,
    compression: str = "zstd",
) -> None:
    """Two-dimensional clustered layout: min-max scale both keys to
    ``bits``-bit ranks, range-cluster on their Morton interleave. Every
    output file then covers a small bounding BOX in (col1, col2) space —
    predicate scans on EITHER column skip files, where single-key range
    clustering only helps its own key. The min/max pass is one cheap
    scan; at 100 TB you'd source those bounds from table statistics."""
    lo1, hi1, lo2, hi2 = df.agg(
        F.min(col1), F.max(col1), F.min(col2), F.max(col2)
    ).first()
    span = (1 << bits) - 1

    def rank(c, lo, hi):
        denom = max(hi - lo, 1)
        return F.least(
            F.lit(span),
            ((F.col(c) - F.lit(lo)) * span / F.lit(denom)).cast("bigint"),
        )

    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    z = morton_code(rank(col1, lo1, hi1), rank(col2, lo2, hi2), bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )


def merged_json_pretty(converted: DataFrame, doc_id_col: str = "doc_id", merged_col: str = "merged") -> DataFrame:
    """(doc_id, pretty) — re-render each merged document with the
    reference's exact output options (indent=2, ensure_ascii=False;
    script.py:572-573). Python by necessity (Spark's ``to_json`` has no
    indent option), but Arrow-batched via ``pandas_udf`` rather than a
    row-at-a-time interpreted UDF."""
    @pandas_udf("string")
    def pretty(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None else json.dumps(json.loads(v), indent=2, ensure_ascii=False)
        )

    return converted.select(F.col(doc_id_col).alias("doc_id"), pretty(merged_col).alias("pretty"))


def fragment_report(fragments: DataFrame) -> str:
    """The reference CLI's console report (etl_parser.py:1096-1103) for
    a fragments DataFrame: total count + per-format counts, one
    aggregation pass."""
    rows = (
        fragments.groupBy("format_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "format_type")
        .collect()
    )
    total = sum(r.n for r in rows)
    lines = [f"Detected {total} fragments:"]
    lines += [f"  {r.format_type:<18} {r.n}" for r in rows]
    return "\n".join(lines)
