"""Id-retirement (take-down) propagation across the persisted indexes.

Every persisted surface in the engine — the IVF members/assignments
tables, the BM25 postings/dfs/stats triple, the gates' decision logs,
the crawl frontier — supports append (``ivf_assign`` / ``bm25_merge`` /
the ``run_stream_*_gate`` loops), compaction (``compact_decisions``)
and rebalance (``rebalance_gate_index``), but nothing RETIRES an id:
at 100 TB, deletion requests (take-downs, GDPR erasure, licensing
pull-backs) are routine, and without this tier each one would be a
full index rewrite. This module is the deletion twin of the merge
operators — each function is the algebraic INVERSE of its append path,
and each rewrites only what the retired ids actually touch:

- :func:`ivf_retire` — anti-join the tombstones against a
  cell-partitioned members table and rewrite ONLY the touched cells'
  partition directories (the ``rebalance_gate_index`` dynamic-
  partition-overwrite discipline); cold cells stay byte-untouched.
- :func:`bm25_retire` — the exact inverse of
  :func:`~auraverse_etl_pipeline_spark.operators.retrieval.bm25_merge`:
  postings anti-join, vocabulary-sized df subtraction (terms reaching
  df=0 drop, so the result is indistinguishable from a rebuild without
  the retired docs), 1-row stats subtraction.
- :func:`bm25_retire_path` — the persisted spelling: load → retire →
  write, in place behind the checkpoint cut or to a fresh
  ``dst_path`` (the production swap).
- :func:`log_retire` — drop the retired ids' rows from an append-only
  decision/frontier log, with the ``compact_decisions`` in-place
  overwrite discipline (eager checkpoint before the destructive write).

Every read-then-overwrite cut here is
:func:`~auraverse_etl_pipeline_spark.operators.caching.cut`.

Idempotence and crash posture: every function anti-joins a DURABLE
tombstone list the caller owns, so a re-run after any crash converges
to the same state (a partially-applied retire leaves some surfaces
clean and some not; the next run touches only what still contains a
retired id). Retiring an id that no surface contains is a no-op.
Centroids are never dropped when a cell empties — quantizer geometry
stays valid; an emptied cell's partition directory is deleted so a
probe scans nothing.

The reference (`/root/reference/etl_parser.py`) is a single-process
parser with no persisted index surface — this tier exists for the
100 TB pipeline layer, not for reference parity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from auraverse_etl_pipeline_spark.operators.caching import cut
from auraverse_etl_pipeline_spark.operators.retrieval import Bm25Index


def _tomb_ids(tombstones: DataFrame, id_col: str) -> DataFrame:
    """Normalized one-column distinct tombstone frame, broadcast: a
    take-down list is human-scale (thousands), never corpus-scale."""
    return F.broadcast(tombstones.select(F.col(id_col).alias(id_col)).distinct())


def _delete_path(spark: SparkSession, path: str) -> None:
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def ivf_retire(
    spark: SparkSession,
    index_path: str,
    tombstones: DataFrame,
    members_table: str = "members",
    id_col: str = "id",
) -> list[int]:
    """Remove retired ids from a cell-partitioned IVF members table,
    rewriting ONLY the partitions that contain one.

    Works on both persisted member layouts — ``IvfIndex.save``'s
    ``assignments`` (id, v, cell) and the SemDeDup gate's ``members``
    (id, v, centroid_cos, cell) — because it is schema-agnostic: every
    non-partition column of a surviving row is preserved verbatim;
    only rows whose ``id_col`` appears in ``tombstones`` vanish.

    Scale shape (the ``rebalance_gate_index`` discipline): ONE
    broadcast-join aggregate finds the touched cells AND which of them
    empty outright (collected — bounded by nlist, one row per touched
    cell; optimization r17 fused the former separate touched/live
    collect pair into this single pass), the survivors of exactly
    those cells anti-join the broadcast tombstones, and a dynamic
    partition overwrite replaces just those directories (clustered by
    ``repartition("cell")`` first — the open-writers rule). A touched
    cell whose members ALL retire gets its partition directory
    deleted outright, because a dynamic overwrite only rewrites
    partitions present in the written data — an empty survivor set
    would silently leave the doomed files live (and when EVERY touched
    cell empties, the survivor checkpoint+write is skipped entirely).
    Cold cells' files are never opened for write (byte-untouched,
    pinned in tests).

    Centroids are untouched: an emptied cell keeps its centroid (valid
    quantizer geometry; probes that pick it scan zero rows), exactly
    the posture a FAISS remove_ids leaves. Crash posture: the
    per-partition overwrite is not atomic across cells, but re-running
    with the same durable tombstone list converges — any cell still
    holding a retired id is touched again, and the deletes are
    idempotent.

    Returns the list of touched cell ids (empty = no surface hit)."""
    path = f"{index_path}/{members_table}"
    members = spark.read.parquet(path)
    tomb = _tomb_ids(tombstones, id_col)
    # ONE pass decides both cell lists (optimization r17: the
    # touched-cells semi-join and the post-checkpoint live-cells probe
    # were two separate collect jobs over the same scan): per cell,
    # total rows and doomed rows — touched = cells holding a doomed
    # row, emptied = touched cells where EVERY row is doomed. Bounded
    # by nlist, one row per touched cell, same as before.
    per_cell = (
        members.join(tomb.withColumn("_doomed", F.lit(True)), id_col, "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count("_doomed").alias("_gone"),
        )
        .filter(F.col("_gone") > 0)
        .collect()
    )
    touched = [r.cell for r in per_cell]
    if not touched:
        return []
    emptied = [r.cell for r in per_cell if r._gone == r._n]
    if len(emptied) < len(touched):
        survivors = members.filter(F.col("cell").isin(touched)).join(
            tomb, id_col, "left_anti"
        )
        # the read-then-overwrite lineage cut: the delta derives from
        # the very partition files the dynamic overwrite replaces
        delta = cut(survivors.repartition("cell"))
        (
            delta.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(path)
        )
    for cell in emptied:
        _delete_path(spark, f"{path}/cell={cell}")
    return touched


def bm25_retire(
    index: Bm25Index,
    tombstones: DataFrame,
    id_col: str = "id",
    cache: bool = False,
) -> Bm25Index:
    """The algebraic inverse of :func:`~auraverse_etl_pipeline_spark.
    operators.retrieval.bm25_merge`: fold a tombstone list OUT of a
    BM25 index without touching the corpus text.

    Lucene's segment identity runs backwards too — for a removed doc
    set, ``df`` and the corpus stats SUBTRACT: the retired docs'
    postings leave (one anti-join on the id), each departing posting
    decrements its term's df (vocabulary-sized aggregate; terms
    reaching df=0 drop entirely, so the result is indistinguishable
    from rebuilding over the surviving corpus), and the 1-row stats
    lose the retired docs' count and length. Cost is O(index), never
    O(corpus text) — and the postings anti-join is the same scan a
    compaction pass already pays, so production retires ride along
    with compaction (:func:`bm25_retire_path`).

    Pure plan algebra: no I/O here. Searching the returned index never
    scores a retired doc, and every surviving doc's score shifts
    exactly as a rebuild would shift it (df and avgdl move).

    ``cache=True`` persists the removed-postings delta (the retired
    docs' rows — take-down-sized, a sliver of the index) so the df and
    stats subtractions read it instead of each re-scanning the full
    postings table; the handle lands on ``cache_handle`` (the
    ``bm25_index`` convention) — unpersist it once the result is
    materialized. :func:`bm25_retire_path` does exactly that."""
    tomb = _tomb_ids(tombstones, id_col).withColumnRenamed(id_col, "id")
    removed = index.postings.join(tomb, "id", "left_semi")
    if cache:
        removed = removed.persist()
    kept = index.postings.join(tomb, "id", "left_anti")
    removed_dfs = removed.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_gone")
    )
    dfs = (
        index.dfs.join(removed_dfs, "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("df_gone"), F.lit(0)))
            .cast("bigint")
            .alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    removed_stats = (
        removed.groupBy("id")
        .agg(F.max("dl").alias("dl"))  # dl is denormalized per posting row
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gone"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("len_gone"),
        )
    )
    stats = index.stats.crossJoin(F.broadcast(removed_stats)).select(
        (F.col("n_docs") - F.col("n_gone")).cast("bigint").alias("n_docs"),
        (F.col("total_len") - F.col("len_gone")).cast("bigint").alias("total_len"),
    )
    return Bm25Index(
        postings=kept, dfs=dfs, stats=stats,
        cache_handle=removed if cache else None,
    )


def bm25_retire_path(
    spark: SparkSession,
    index_path: str,
    tombstones: DataFrame,
    id_col: str = "id",
    dst_path: str | None = None,
) -> Bm25Index:
    """Persisted-index retire: load, :func:`bm25_retire`, write, return
    the index read back from its final path (the caller sees exactly
    what is on disk).

    ``dst_path`` is the production spelling — write the retired index
    fresh and swap, keeping the old one until readers drain. In-place
    (``dst_path=None``) eagerly checkpoints all three tables first
    (they derive from the very files the write replaces — the
    read-then-overwrite cut). BM25 postings cluster by term, not id,
    so a retire is a full-table rewrite either way — which is why
    production rides it along with the compaction pass it costs the
    same as."""
    idx = Bm25Index.load(spark, index_path)
    retired = bm25_retire(idx, tombstones, id_col=id_col, cache=True)
    out = dst_path or index_path
    if dst_path is None:
        retired = Bm25Index(
            postings=cut(retired.postings),
            dfs=cut(retired.dfs),
            stats=cut(retired.stats),
            cache_handle=retired.cache_handle,
        )
    retired.save(out)
    if retired.cache_handle is not None:
        retired.cache_handle.unpersist()
    return Bm25Index.load(spark, out)


def log_retire(
    spark: SparkSession,
    log_path: str,
    tombstones: DataFrame,
    id_col: str = "id",
    dst_path: str | None = None,
) -> DataFrame:
    """Erase every row of a retired id from an append-only decision /
    verdict / frontier log — the take-down twin of
    :func:`~auraverse_etl_pipeline_spark.sources.sinks.
    compact_decisions` (same overwrite discipline, different survivor
    rule: compaction keeps one row per id, retirement keeps zero).

    A decisions row links an id to a verdict and a frontier row links
    a canonical URL to its first fetch — under erasure requests the
    linkage itself must go, not just the indexed content. One
    broadcast anti-join, eager checkpoint before the in-place
    overwrite, or a fresh ``dst_path`` for the swap
    spelling. Returns the surviving log read back from disk when a
    rewrite happened, and ``None`` on the short-circuit path (advice
    r15: the caller must be able to tell "nothing rewrote" without
    repeating the probe — ``compressed_index_tick`` previously ran the
    identical limit(1) semi-join twice per tick under a standing
    tombstone table; on ``None`` the log on disk is byte-untouched and
    IS the survivor set).

    The same spelling retires any flat id-keyed persisted table — the
    MinHash signature index (``minhash_index``'s (doc_id, sig) rows,
    ``id_col="doc_id"``), a frontier (``id_col="canon_url"``), a BM25
    segment directory pre-merge — anything whose rows key on the
    retired identity and which is not partition-pruned by it (the
    cell-partitioned IVF tables go through :func:`ivf_retire`, which
    rewrites only touched partitions).

    Short-circuits when the log holds NO retired id (one broadcast
    semi-join probe, the ``ivf_retire`` touched-cells discipline): a
    cron tick with a standing tombstone table must not pay a full
    read-checkpoint-overwrite of an untouched log every run — nor
    open the read-then-overwrite crash window for no work."""
    log = spark.read.parquet(log_path)
    tomb = _tomb_ids(tombstones, id_col)
    if dst_path is None and log.join(tomb, id_col, "left_semi").limit(1).count() == 0:
        return None
    kept = log.join(tomb, id_col, "left_anti")
    out = dst_path or log_path
    if dst_path is None:
        kept = cut(kept)
    kept.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def retire_ids_everywhere(
    spark: SparkSession,
    tombstones: DataFrame,
    index_paths: "tuple[str, ...] | list[str]" = (),
    bm25_paths: "tuple[str, ...] | list[str]" = (),
    log_paths: "tuple[tuple[str, str], ...] | list[tuple[str, str]]" = (),
) -> dict[str, list[str]]:
    """One take-down request, ONE command: sweep a single durable
    tombstone table across EVERY persisted loop surface the engine
    writes — the composition the per-surface functions advertise but
    previously left to the caller. A real erasure request hits all of
    them at once: the IVF members plus its PQ/SQ code tables and the
    encode log (``index_paths`` roots, the ``compressed_index_tick``
    retire stage), each BM25 triple (``bm25_paths``, in-place behind
    the checkpoint cut), and every flat id-keyed log — decision logs,
    the MinHash signature index, the URL frontier — as ``(path,
    id_col)`` pairs in ``log_paths``.

    The tombstone table carries ONE COLUMN PER IDENTITY DOMAIN the
    surfaces key on (e.g. ``id`` for vector/doc surfaces,
    ``canon_url`` for the frontier): each log's ``id_col`` names which
    column indicts its rows, so one request maps to one row per
    erased identity, not one table per surface.

    Per-surface semantics are exactly the underlying functions' —
    touched-partitions-only for cell-partitioned members/code tables,
    algebraic fold-out for BM25, probe-then-overwrite (or the
    short-circuit) for logs — so the sweep inherits their idempotence
    and crash posture: a crash mid-sweep leaves some surfaces clean,
    and the re-run touches only what still holds a retired id.
    Surfaces absent on disk are skipped (missing table = empty set —
    the try wraps ONLY the bare read, the r15 guard rule).

    Returns ``{root_or_path: [surfaces that actually rewrote]}`` —
    an empty list means the request was already clean there."""
    from pyspark.errors.exceptions.captured import AnalysisException

    summary: dict[str, list[str]] = {}
    for root in index_paths:
        touched: list[str] = []
        for table in ("assignments", "members", "pq_codes", "sq_codes"):
            # AnalysisException ONLY (the r15 guard rule): a
            # present-but-corrupt table or a transient FS failure must
            # propagate, not silently skip a surface mid-erasure-sweep
            try:
                spark.read.parquet(f"{root}/{table}")
            except AnalysisException:
                continue
            if ivf_retire(spark, root, tombstones, members_table=table):
                touched.append(table)
        try:
            spark.read.parquet(f"{root}/encode_log")
            has_log = True
        except AnalysisException:
            has_log = False
        if has_log and (
            log_retire(spark, f"{root}/encode_log", tombstones) is not None
        ):
            touched.append("encode_log")
        summary[root] = touched
    for root in bm25_paths:
        # probe-first (the log_retire discipline): a standing tombstone
        # table must not force the full-table BM25 rewrite on every
        # sweep when no retired id appears in the postings — and the
        # reported surfaces honor the "empty list = already clean"
        # contract the other surface kinds keep
        try:
            postings = spark.read.parquet(f"{root}/postings")
        except AnalysisException:
            summary[root] = []
            continue
        if postings.join(_tomb_ids(tombstones, "id"), "id", "left_semi").limit(
            1
        ).count() == 0:
            summary[root] = []
            continue
        bm25_retire_path(spark, root, tombstones)
        summary[root] = ["postings", "dfs", "stats"]
    for path, id_col in log_paths:
        rewrote = log_retire(spark, path, tombstones, id_col=id_col) is not None
        summary[path] = ["log"] if rewrote else []
    return summary
