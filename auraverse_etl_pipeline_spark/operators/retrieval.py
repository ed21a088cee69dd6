"""BM25 lexical retrieval: persistable inverted index + top-k search.

The lexical half of a curation pipeline's retrieval stack (the embedding
half is ``operators/similarity.py``): retrieval-based decontamination
("which training docs does this benchmark query retrieve?"), seed-set
expansion for classifier training, and plain corpus search all run on
the same two-table index built here. (The reference has no retrieval
tier at all; this generalizes its free-text scan, ``script.py:425``, the
way the similarity tier generalizes its equality matching.)

Scale shape, deliberately Lucene-like:

- the index is ONE explode + ONE partial-aggregated shuffle on
  ``(doc, term)``; document length is denormalized into every posting
  (Lucene's ``norms``) so search never joins the corpus-sized
  doc-length table;
- the document-frequency table is vocabulary-sized, built once at index
  time, and only ever probed with a broadcast of the query terms;
- search scans postings ONCE (the query-term join is a broadcast — zero
  shuffle on the corpus side), aggregates fixed-width
  ``(query, doc, partial)`` rows, and top-k's per query. Nothing
  corpus-sized ever shuffles except that fixed-width aggregate.

Engine parity: the scoring expression tree is spelled identically here
and in the DuckDB oracle (same literal constants, same operation order —
IEEE doubles are deterministic), per-term ``idf`` logs run through the
same Python-libm pandas_udf as the NB classifier (JVM ``Math.log``
disagrees with DuckDB ``ln`` in the last ulp on ~2% of inputs) over the
query-terms table only, and per-document sums are order-independent
DECIMAL(38,12) partials.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from auraverse_etl_pipeline_spark.operators.caching import release_after, run_jobs
from auraverse_etl_pipeline_spark.runtime import ship_package

#: Lucene's BM25 defaults; shared with the oracle SQL in
#: ``plans/llm_queries.py`` so the two spellings cannot drift.
BM25_K1 = 1.2
BM25_B = 0.75


@dataclass(frozen=True)
class Bm25Index:
    """The persistable BM25 index — three plain-data tables:

    - ``postings`` — (term, id, tf, dl): every (document, term) pair
      with its term frequency and the document's total token count
      (denormalized, so search needs no corpus-side length join).
    - ``dfs`` — (term, df): vocabulary-sized document frequencies.
    - ``stats`` — single row (n_docs, total_len): corpus size and the
      token total that yields ``avgdl`` at search time.

    :meth:`save` writes all three as parquet, postings repartitioned by
    ``term`` so each query term's postings cluster into few files (on a
    real cluster, bucket the saved table by ``term`` for a shuffle-free
    probe). A daily pipeline builds this ONCE, then every run is
    :meth:`load` + :func:`bm25_search`; a new batch with fresh doc ids
    appends its own ``bm25_index`` postings/dfs as new files and the
    tiny stats row is re-summed — the corpus text is never re-read."""

    postings: DataFrame
    dfs: DataFrame
    stats: DataFrame
    #: Set only by ``bm25_index(cache=True)``: the persisted (id, term,
    #: tf) table every index table derives from. Pass it through
    #: :func:`release_after` on whatever result consumes the index.
    cache_handle: DataFrame | None = None

    def save(self, path: str, mode: str = "overwrite") -> "Bm25Index":
        # three independent tables — overlapped writes (guide §2.6);
        # the 1-row stats table additionally coalesces to one file
        # (a multi-task commit of a single row is pure overhead)
        jobs = [
            lambda: (
                self.postings.repartition("term")
                .write.mode(mode)
                .parquet(f"{path}/postings")
            ),
            lambda: self.dfs.write.mode(mode).parquet(f"{path}/dfs"),
            lambda: self.stats.coalesce(1).write.mode(mode).parquet(
                f"{path}/stats"
            ),
        ]
        run_jobs(jobs)
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Bm25Index":
        return cls(
            postings=spark.read.parquet(f"{path}/postings"),
            dfs=spark.read.parquet(f"{path}/dfs"),
            stats=spark.read.parquet(f"{path}/stats"),
        )


def bm25_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache: bool = False,
) -> Bm25Index:
    """Build the inverted index from ``(id, text)`` documents.

    One token explode into fixed-width ``(id, term)`` rows, one
    partial-aggregated count shuffle keyed ``(id, term)`` (a document's
    tokens are co-partitioned with it, so the map-side combine does
    most of the counting), a self-join length denormalization on the
    aggregate's own output, and a vocabulary-sized second aggregate for
    ``dfs``. The corpus text is read exactly once.

    ``cache=True`` persists the shared (id, term, tf) table all three
    index tables derive from — for inline build-then-search sessions
    (pair it with ``release_after(result, idx.cache_handle)``).
    Persisted pipelines should leave it off and :meth:`Bm25Index.save`
    instead: a saved index is a parquet scan, not executor storage."""
    from auraverse_etl_pipeline_spark.functions.text import tokens

    tf = (
        docs.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    if cache:
        tf.persist()
    dl = tf.groupBy("id").agg(F.sum("tf").cast("bigint").alias("dl"))
    postings = tf.join(dl, "id").select("term", "id", "tf", "dl")
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    return Bm25Index(
        postings=postings, dfs=dfs, stats=stats, cache_handle=tf if cache else None
    )


def bm25_search(
    queries: DataFrame,
    index: Bm25Index,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    query_id_col: str = "query_id",
    text_col: str = "text",
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents per query: ``(query_id, doc_id, score, rank)``.

    Lucene-style BM25: per matched (query term, posting)

    ``idf(t) * (tf*(k1+1)) / (tf + k1*(1 - b + b*dl/avgdl))``

    with ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`` (always
    positive). Distinct query terms score once each; terms absent from
    the corpus contribute nothing (inner join against ``dfs``).

    Plan: query terms (tiny) probe ``dfs`` with a broadcast, idf runs
    through the Python-libm pandas_udf over that tiny match table, the
    weighted term table broadcasts against ``postings`` (the only
    corpus-sized scan — NO shuffle), per-(query, doc) sums are
    DECIMAL(38,12) partials, and the top-k window partitions by query
    with a deterministic (score desc, doc asc) tie-break.

    ``exclude`` is LAZY retirement — Lucene's liveDocs pattern: a
    1-column ``(id)`` tombstone frame whose docs are dropped from
    scoring by a broadcast anti-join on the postings probe, so a
    take-down takes effect at the NEXT query (O(1) append to the
    tombstone log) while the physical rewrite
    (:func:`~auraverse_etl_pipeline_spark.operators.retire.
    bm25_retire`) rides the next compaction pass. Exactly Lucene's
    semantics, including the caveat: df/avgdl still count the
    excluded docs until the physical pass runs, so surviving docs'
    scores differ from the post-rewrite index by the stale statistics
    (the two paths converge after compaction — pinned in tests).
    The frame is broadcast — correct for take-down-sized lists (the
    liveDocs contract); once a tombstone backlog approaches
    broadcast limits it is overdue for its physical compaction
    pass, not a bigger broadcast."""
    from auraverse_etl_pipeline_spark.functions.text import tokens
    from auraverse_etl_pipeline_spark.operators.classifier import _ln

    ship_package(queries.sparkSession)  # _ln is pickled by reference
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("term"),
    )
    qidf = (
        index.dfs.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(index.stats))
        .select(
            "query_id",
            "term",
            _ln(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
            (
                F.col("total_len").cast("double") / F.col("n_docs").cast("double")
            ).alias("avgdl"),
        )
    )
    postings = index.postings
    if exclude is not None:
        postings = postings.join(
            F.broadcast(exclude.select("id").distinct()), "id", "left_anti"
        )
    contrib = postings.join(F.broadcast(qidf), "term").select(
        "query_id",
        F.col("id").alias("doc_id"),
        (
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            )
        ).alias("w"),
    )
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("w").cast("decimal(38,12)")).cast("double").alias("score")
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


__all__ = [
    "BM25_B",
    "BM25_K1",
    "Bm25Index",
    "bm25_index",
    "bm25_merge",
    "bm25_search",
    "release_after",
    "tfidf_keywords",
]


def tfidf_keywords(
    index: Bm25Index, k: int = 3
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by
    ``tf · ln(N/df)`` — ``(doc_id, term, tf, tfidf, rank)``. The
    summarization / topic-labeling primitive a corpus card or
    curriculum builder runs on the same inverted index retrieval uses.

    Plan: idf over the vocabulary-sized df table (Python-libm Arrow
    batch — the last-ulp ln rule), broadcast-joined into the postings
    scan (no corpus-side shuffle), then ONE top-k window per document
    (fixed-width rows; WindowGroupLimit prunes to k per partition
    before the exchange). Ties break on the term itself."""
    from auraverse_etl_pipeline_spark.operators.classifier import _ln

    ship_package(index.postings.sparkSession)
    idf = index.dfs.crossJoin(F.broadcast(index.stats)).select(
        "term",
        _ln(F.col("n_docs").cast("double") / F.col("df").cast("double")).alias(
            "idf"
        ),
    )
    scored = index.postings.join(F.broadcast(idf), "term").select(
        F.col("id").alias("doc_id"),
        "term",
        "tf",
        (F.col("tf").cast("double") * F.col("idf")).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )


def bm25_merge(index: Bm25Index, batch: Bm25Index) -> Bm25Index:
    """Index compaction — the lexical twin of the MinHash
    ``merge_into_index`` / IVF ``ivf_assign`` write paths: fold a new
    batch's index into an existing one with INDEX-WINS idempotence (a
    re-ingested document keeps its indexed postings; only genuinely new
    doc ids land).

    Lucene's segment-merge identity makes this delta-only: for
    disjoint doc sets, ``df`` and the corpus stats ADD — so the merge
    is an anti-join on the doc id (new docs only), a union of postings
    (logical — parquet append at scale), a full-outer SUM of the two
    vocabulary-sized df tables, and a 1-row stats add. The existing
    corpus's postings are never re-aggregated, so a daily ingest loop
    costs O(batch), not O(corpus)."""
    # direct left-anti on the id: duplicate build-side keys (one per
    # term of an indexed doc) don't change anti-join semantics, and
    # skipping the two distinct aggregates saves two shuffles — at
    # index scale, feed a dedicated live-ids table here instead.
    delta = batch.postings.join(index.postings.select("id"), "id", "left_anti")
    delta_dfs = delta.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    merged_dfs = (
        index.dfs.select("term", F.col("df").alias("df_a"))
        .join(delta_dfs.select("term", F.col("df").alias("df_b")), "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("df_a"), F.lit(0))
                + F.coalesce(F.col("df_b"), F.lit(0))
            )
            .cast("bigint")
            .alias("df"),
        )
    )
    delta_stats = delta.groupBy("id").agg(F.max("dl").alias("dl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    merged_stats = (
        index.stats.select(
            F.col("n_docs").alias("na"), F.col("total_len").alias("la")
        )
        .crossJoin(
            delta_stats.select(
                F.col("n_docs").alias("nb"), F.col("total_len").alias("lb")
            )
        )
        .select(
            (F.col("na") + F.col("nb")).cast("bigint").alias("n_docs"),
            (F.col("la") + F.col("lb")).cast("bigint").alias("total_len"),
        )
    )
    return Bm25Index(
        postings=index.postings.unionByName(delta),
        dfs=merged_dfs,
        stats=merged_stats,
    )


def bm25_fsck(spark: SparkSession, index_path: str) -> DataFrame:
    """Integrity audit (fsck) for a persisted BM25 triple — the
    lexical-family twin of :func:`~auraverse_etl_pipeline_spark.
    streaming.ops.gate_index_fsck`, for the cron that runs BETWEEN
    maintenance passes: every crash window in the merge/retire
    machinery heals on the next idempotent call, and this is the
    measurement that tells an operator whether the triple is
    currently sitting inside one. Returns ``(check, violations)``
    rows (0 = healthy):

    - ``df_posting_mismatch`` — terms whose ``dfs.df`` disagrees with
      the postings' per-term row count (the df construction
      identity): either side dangling means a retire/merge rewrote
      one table and crashed before the other.
    - ``orphan_df_term`` — df rows whose term has NO postings at all:
      the ``bm25_retire`` df=0-terms-drop invariant violated (counted
      inside the mismatch too; split out because it is the retire
      crash signature, exactly as ``kept_decision_without_member``
      fingerprints a forgotten ``log_retire``).
    - ``duplicate_posting`` — a (term, id) pair with two rows: a
      partially replayed append.
    - ``dl_inconsistent`` — a doc id carrying two DIFFERENT
      denormalized ``dl`` values across its postings rows (the
      search-time length join is implicit; a split-brain dl skews
      every score for that doc).
    - ``stats_mismatch`` — the stats table disagrees with the
      postings-derived ``(n_docs, total_len)``, OR is not exactly one
      row: a duplicated stats row (the partial-append-replay class)
      compares clean row-by-row while silently doubling every
      downstream stats crossJoin, and a zero-row table starves them —
      both count as violations here.

    Shape: vocabulary-sized hash aggregates over the postings scan,
    one vocabulary-sized full-outer join against dfs (CACHED — the
    mismatch and orphan checks both consume it; the returned frame
    carries the paired ``release_caches()`` handle), a stats compare,
    one 1-row frame per check unioned — bounded by the index, no
    corpus access."""
    idx = Bm25Index.load(spark, index_path)

    def row(name: str, df_count: DataFrame) -> DataFrame:
        return df_count.select(
            F.lit(name).alias("check"),
            F.col("n").cast("bigint").alias("violations"),
        )

    per_term = idx.postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_postings")
    )
    joined = idx.dfs.join(per_term, "term", "full_outer").cache()
    mismatch = row(
        "df_posting_mismatch",
        joined.filter(
            F.coalesce(F.col("df"), F.lit(-1))
            != F.coalesce(F.col("n_postings"), F.lit(-1))
        ).agg(F.count(F.lit(1)).alias("n")),
    )
    orphan = row(
        "orphan_df_term",
        joined.filter(
            F.col("df").isNotNull() & F.col("n_postings").isNull()
        ).agg(F.count(F.lit(1)).alias("n")),
    )
    dup = row(
        "duplicate_posting",
        idx.postings.groupBy("term", "id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c > 1")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    dl_bad = row(
        "dl_inconsistent",
        idx.postings.groupBy("id")
        .agg(F.countDistinct("dl").alias("c"))
        .filter("c > 1")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    derived = idx.postings.groupBy("id").agg(F.max("dl").alias("dl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_d"),
        F.coalesce(F.sum("dl").cast("bigint"), F.lit(0)).alias("total_len_d"),
    )
    # derived is exactly 1 row, so the crossJoin has one row per stats
    # row: value disagreements sum per row, and |rows − 1| catches a
    # duplicated (N identical clean rows) or empty stats table
    stats_bad = row(
        "stats_mismatch",
        idx.stats.crossJoin(derived)
        .select(
            (
                (F.col("n_docs") != F.col("n_docs_d"))
                | (F.col("total_len") != F.col("total_len_d"))
            )
            .cast("bigint")
            .alias("bad")
        )
        .agg(
            (
                F.coalesce(F.sum("bad"), F.lit(0))
                + F.abs(F.count(F.lit(1)) - F.lit(1))
            ).alias("n")
        ),
    )
    out = (
        mismatch.unionByName(orphan)
        .unionByName(dup)
        .unionByName(dl_bad)
        .unionByName(stats_bad)
    )
    return release_after(out, joined)


def hybrid_rrf(
    lexical: DataFrame,
    dense: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked retrieval lists (Cormack et
    al. 2009 — the standard hybrid-search combiner): both inputs are
    ``(query_id, doc_id, rank)``, the fused score is
    ``Σ 1/(rrf_k + rank)`` over the systems that returned the doc, and
    the output is the fused top-``k`` per query.

    RRF needs no score calibration between systems (only ranks), which
    is exactly why it is the default fusion for BM25 + embedding
    retrieval. Engine-exact by construction: each term is one double
    division of exact integers, summed in a fixed two-term order.

    Plan shape: both inputs are already top-k-per-query (tiny relative
    to the corpus — the expensive work happened inside each retriever),
    so the full-outer join and re-rank window are bounded by
    queries × (k_lex + k_dense)."""
    lex = lexical.select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    den = dense.select("query_id", "doc_id", F.col("rank").alias("dense_rank"))
    fused = (
        lex.join(den, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("dense_rank")), F.lit(0.0)
                )
            ).alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf_score", "rank")
    )


# DataType instance, not a DDL string: the module imports before any
# SparkSession exists and DDL parsing needs an active context (the
# classifier._ln rule).
@pandas_udf(DoubleType())
def _log2(s: pd.Series) -> pd.Series:
    # Python-libm log2 — probed bit-identical to DuckDB's ``log2`` on
    # 40k inputs (0 mismatches; integer args 2..20001 and uniform
    # doubles), where JVM ``F.log2`` carries the same last-ulp risk as
    # ``F.log`` (the CLAUDE.md libm rule). Same discipline as the NB
    # classifier's ``_ln`` / ``_sigmoid``.
    return s.map(math.log2)


def retrieval_quality_audit(
    runs: DataFrame,
    truth: DataFrame,
    k: int = 10,
) -> DataFrame:
    """nDCG@k evaluation harness — the lexical/hybrid twin of the ANN
    tier's ``sim_ann_recall_audit``: given one or more retrieval
    systems' rankings and a graded ground truth, score every (system,
    query) with normalized discounted cumulative gain. This is the
    measurement that justifies fusion constants (RRF's k=60) and
    arbitrates BM25-only vs dense-only vs hybrid instead of guessing.

    Inputs: ``runs`` = (system, query_id, doc_id, rank) — each
    system's ranked list, rank 1 best; ``truth`` = (query_id, doc_id,
    rel) — graded relevance (e.g. exact-cosine top-g with grades
    g..1; any non-negative integer grades work). Output: one row per
    (system, query_id): (system, query_id, dcg, idcg, ndcg). A query
    with no truth rows, or whose truth grades are all zero, has no
    ideal gain to normalize by: its rows emit idcg=0.0 and ndcg=0.0
    (never NaN, never silently dropped) — the audit surfaces the
    uncovered query instead of hiding it.

    Engine-exact by construction: ranks ≤ k join a k-row log2
    discount table (Python-libm pandas_udf — bit-matches DuckDB's
    ``log2``, probed), each gain is ONE division rel/log2(rank+1),
    and both DCG and IDCG are ORDERED left-to-right folds over
    rank-sorted arrays (``F.aggregate`` over ``array_sort`` — the
    same sequential association DuckDB's ``list_reduce`` uses), so
    no float ever crosses an unordered aggregate.

    Scale shape: rankings are already top-k per query (the expensive
    retrieval happened upstream), so everything here is bounded by
    systems × queries × k; the discount table is k rows, broadcast.
    The truth join is a left join on (query_id, doc_id) — a retrieved
    document outside the truth set scores 0 gain, the standard
    convention."""
    spark = runs.sparkSession
    ship_package(spark)  # the log2 kernel is pickled by reference
    discounts = F.broadcast(
        spark.range(1, k + 1)
        .select(F.col("id").cast("bigint").alias("rank"))
        .select("rank", _log2((F.col("rank") + 1).cast("double")).alias("disc"))
    )

    def _dcg(df: DataFrame, keys: list[str], gain_col) -> DataFrame:
        scored = (
            df.filter(F.col("rank") <= k)
            .join(discounts, "rank")
            .select(*keys, "rank", (gain_col / F.col("disc")).alias("g"))
        )
        folded = F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "g"))),
                lambda s: s["g"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return scored.groupBy(*keys).agg(folded.alias("dcg"))

    rel = truth.select(
        "query_id", "doc_id", F.col("rel").cast("double").alias("rel")
    )
    got = runs.join(rel, ["query_id", "doc_id"], "left").select(
        "system", "query_id", "rank", F.coalesce("rel", F.lit(0.0)).alias("rel")
    )
    dcg = _dcg(got, ["system", "query_id"], F.col("rel"))
    # ideal ranking: the truth set's own grades, best-first (ties by
    # doc_id so the ideal list is deterministic), re-ranked 1..k
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    ideal = rel.withColumn("rank", F.row_number().over(w).cast("bigint"))
    idcg = _dcg(ideal, ["query_id"], F.col("rel")).withColumnRenamed(
        "dcg", "idcg"
    )
    # LEFT join: a (system, query) whose query has no truth rows must
    # still appear (idcg null → 0.0), and an all-zero-grade truth set
    # yields idcg=0.0 — both normalize to ndcg=0.0, never NaN.
    idcg0 = F.coalesce(F.col("idcg"), F.lit(0.0))
    return dcg.join(idcg, "query_id", "left").select(
        "system",
        "query_id",
        "dcg",
        idcg0.alias("idcg"),
        F.when(idcg0 > 0.0, F.col("dcg") / F.col("idcg"))
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )
