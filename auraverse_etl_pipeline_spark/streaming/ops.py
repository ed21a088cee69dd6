"""Streaming operators over the events stream.

Each takes a (streaming) DataFrame shaped like the events table and
returns a streaming DataFrame — they compose like batch plans. The
batch twins live in plans/analytics.py (q20 windows, q24 sessions);
the parity tests run both and diff the results.

Watermarks: every stateful operator takes a ``watermark`` argument —
that is what bounds state at 100 TB/day event volume (late rows older
than the watermark are dropped, closed windows/sessions are evicted
from the state store). In Trigger.AvailableNow replays with complete
output mode the watermark does not gate emission, so results stay
deterministic for the oracle gate while the operator remains correct
in a continuous deployment.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from auraverse_etl_pipeline_spark.operators.bloom import (
    BLOCKLIST_NUM_BITS,
    BLOCKLIST_NUM_HASHES,
)
from auraverse_etl_pipeline_spark.operators.caching import cut, run_jobs
from auraverse_etl_pipeline_spark.plans.analytics import dsum
from auraverse_etl_pipeline_spark.streaming.runner import (
    audit_batch_plan,
    audit_stream_plan,
)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) window aggregation:
    (window_start, event_type, n_events, sum_value).

    Streaming twin of q20_hourly_event_windows — incremental partial
    aggregation per micro-batch; the shuffle key is (window, event_type)
    so state is bounded by (#windows in watermark) × (#event types).
    """
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sessionize_events_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session windows with a dynamic gap — Spark's native
    ``session_window`` (a new event within ``gap`` of the session end
    extends it). Output: (user_id, session_start, session_end,
    n_events, sum_value) where session_end = last event + gap.

    This is the streaming-native spelling of q24's lag+cumsum
    sessionization; state per key is one open session, evicted once the
    watermark passes session_end.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_events_within_watermark(
    events: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once event stream from an at-least-once transport:
    ``dropDuplicatesWithinWatermark`` on event_id keeps the first
    arrival and suppresses re-deliveries that arrive within the
    watermark window. Unlike plain ``dropDuplicates``, state for an id
    is evicted once the watermark passes it — the only way dedup state
    stays bounded on an unbounded stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def purchase_attribution_join(
    events: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's view events in the preceding ``lookback``.

    The canonical attribution shape. Both sides carry watermarks and
    the join condition bounds event-time distance, so Spark can evict
    view-side state once the watermark passes ts + lookback — without
    the time bound a stream-stream join buffers forever. Output one row
    per (purchase, view) pair.

    ``join_type="leftOuter"`` additionally emits unattributed purchases
    (NULL view columns) — but only once the watermark passes the
    purchase's own timestamp, when no qualifying view can still arrive;
    purchases newer than the final watermark therefore never emit a
    NULL row (pinned in tests/test_streaming.py)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        views,
        (F.col("v_user_id") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"interval {lookback}")),
        join_type,
    ).select("purchase_id", "user_id", "purchase_ts", "view_id", "view_ts")


def minhash_signature_expr(
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    seed: int = 42,
    hash_fn: str = "md5",
):
    """Stateless per-row MinHash signature column — the STREAMING
    spelling. The batch tier (``operators.dedup minhash_signatures``)
    folds minima through a partial-aggregated groupBy because that is
    the fastest batch shape; a stream wants zero aggregation state
    before the index join, so here each row computes its own signature
    with interpreted higher-order expressions (slower per row,
    documented trade — the stream's bottleneck is the micro-batch
    cadence, not per-row CPU). Identical coefficients per seed, so
    signatures interoperate with every batch tier and the persisted
    :func:`~auraverse_etl_pipeline_spark.operators.dedup.minhash_index`."""
    from auraverse_etl_pipeline_spark.functions.text import shingles
    from auraverse_etl_pipeline_spark.operators.dedup import (
        _MINHASH_P,
        minhash_coeffs,
    )

    sh = shingles(text_col, n=n)
    if hash_fn == "md5":
        base = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")  # noqa: E731
    else:
        base = lambda s: F.xxhash64(s, F.lit(seed))  # noqa: E731
    coeffs = minhash_coeffs(num_hashes, seed)
    p = F.lit(_MINHASH_P)

    def affine(a: int, b: int):
        # closure factory: a default-arg lambda would make PySpark
        # treat a/b as higher-order-function arguments
        return lambda s: F.pmod(F.lit(a) * F.pmod(base(s), p) + F.lit(b), p)

    return F.array(
        *[F.array_min(F.transform(sh, affine(a, b))) for a, b in coeffs]
    )


def stream_match_minhash_index(
    new_docs: DataFrame,
    index: DataFrame,
    est_threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 8,
    seed: int = 42,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming incremental dedup: a document stream matches a STATIC
    persisted MinHash index via a stream-static band equality join —
    corpus text is never read, no stream-stream state, and the only
    stateful operator is the per-pair dedup aggregate (a pair matching
    in k bands arrives k times; est_jaccard is identical on each, so
    ``max`` dedups it). Output (complete/update mode):
    (new_id, indexed_id, est_jaccard)."""
    sig = minhash_signature_expr(
        text_col, n=n, num_hashes=num_hashes, seed=seed, hash_fn=hash_fn
    )
    new_sig = new_docs.select(
        F.col(id_col).alias("new_id"), sig.alias("nsig")
    )
    nb = new_sig.select("new_id", "nsig", F.posexplode("nsig").alias("band", "mh"))
    ib = index.select(
        F.col(id_col).alias("indexed_id"),
        F.col("sig").alias("isig"),
        F.posexplode("sig").alias("band", "mh"),
    )
    joined = nb.join(ib, ["band", "mh"])
    agree = F.size(
        F.filter(F.zip_with("nsig", "isig", lambda a, b: a == b), lambda x: x)
    )
    est = (agree / F.lit(float(num_hashes))).alias("est_jaccard")
    return (
        joined.select("new_id", "indexed_id", est)
        .filter(F.col("est_jaccard") >= est_threshold)
        .groupBy("new_id", "indexed_id")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )


def run_stream_dedup_compaction(
    new_docs: DataFrame,
    index_path: str,
    matches_path: str,
    est_threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 8,
    seed: int = 42,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 600,
    max_bucket_size: int | None = None,
) -> None:
    """The CLOSED incremental-dedup loop as a streaming job: each
    micro-batch (a) matches against the index as of batches 1..N-1
    PLUS itself, then (b) compacts its own signatures into the index —
    so batch N's duplicates of batch-1 documents are caught, and so
    are duplicates arriving within one batch. This is the
    ``foreachBatch`` twin of the batch daily loop
    (``minhash_match_index`` → ``merge_into_index``), where
    :func:`stream_match_minhash_index` only ever matches a STATIC
    index.

    Per batch, in order:

    1. read the persisted index (parquet at ``index_path``; absent on
       the first batch ⇒ empty),
    2. batch signatures once (``minhash_index``, cached — consumed by
       the match and the delta write),
    3. match batch signatures against index ∪ batch
       (``match_signature_tables``), drop self-matches, CANONICALIZE
       as (id1 < id2) with a max-est groupBy — a within-batch pair is
       discovered in both directions, and canonical pairs make the
       total output invariant to how the stream was batched (the
       property the oracle gate checks),
    4. append matches to ``matches_path``,
    5. append the signature DELTA (left-anti on the id — the
       materialized spelling of ``merge_into_index``: index rows never
       rewrite, re-ingested ids add nothing) to ``index_path``.

    Scale shape: identical to the batch loop — the index stays a
    parquet table on disk (never executor memory), only fixed-width
    signature rows move, each batch appends only its delta files, and
    the matches sink is append-only. ``max_bucket_size``: same opt-in
    skew cap as the batch tiers. The match (4) is materialized before
    the delta append (5) so a batch never band-joins against files it
    is itself writing."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.dedup import (
        match_signature_tables,
        minhash_index,
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = minhash_index(
            batch_df, n=n, num_hashes=num_hashes, text_col=text_col,
            id_col=id_col, seed=seed, hash_fn=hash_fn,
        ).cache()
        try:
            index = spark.read.parquet(index_path)
        except AnalysisException:  # first batch: no index yet
            index = spark.createDataFrame([], sigs.schema)
        merged = index.unionByName(sigs)
        matches = (
            match_signature_tables(
                sigs, merged,
                est_threshold=est_threshold, num_hashes=num_hashes,
                max_bucket_size=max_bucket_size,
            )
            .filter(F.col("new_id") != F.col("indexed_id"))
            .select(
                F.least("new_id", "indexed_id").alias("id1"),
                F.greatest("new_id", "indexed_id").alias("id2"),
                "est_jaccard",
            )
            .groupBy("id1", "id2")
            .agg(F.max("est_jaccard").alias("est_jaccard"))
        )
        audit_batch_plan("minhash_compaction:matches", matches)
        matches.write.mode("append").parquet(matches_path)
        delta = sigs.join(index.select("doc_id"), "doc_id", "left_anti")
        audit_batch_plan("minhash_compaction:delta", delta)
        delta.write.mode("append").parquet(index_path)
        sigs.unpersist()

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_compaction_")
    q = (
        new_docs.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


def run_stream_substring_compaction(
    new_docs: DataFrame,
    index_path: str,
    spans_path: str,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 600,
) -> None:
    """The closed incremental ExactSubstr loop as a streaming job —
    :func:`run_stream_dedup_compaction`'s twin at shingle granularity:
    each micro-batch (a) audits its duplicated spans against the
    shingle index as of batches 1..N-1 PLUS its own within-batch
    keep-first (:func:`match_substring_index` semantics: index-wins, a
    hash the index holds covers every batch occurrence of it), then
    (b) compacts its own :func:`substring_index` delta into the index.
    So batch N's verbatim reuse of batch-1 text is caught span-exact,
    and so is reuse arriving within one batch.

    Per batch, in order: read index (absent ⇒ empty) → append the
    batch's merged spans to ``spans_path`` (stamped ``batch_id``, the
    gates' ordering column) → append the index DELTA (left-anti on
    ``h`` — the materialized :func:`merge_substring_index`: index rows
    never rewrite, re-ingested hashes add nothing) to ``index_path``.
    The spans write is materialized before the delta append so a batch
    never probes files it is itself writing.

    Batching invariance: ingesting in id order reproduces the batch
    audit exactly (the pinned trio composition); out-of-order arrival
    degrades keep-first to first-ARRIVAL-wins on the cross-batch edge
    — the same append-safe deviation :func:`run_stream_semdedup_gate`
    documents (an indexed hash never retracts its claim).

    Scale shape: corpus text never moves after its own batch — the
    index stays a parquet table on disk, each batch appends only
    fixed-width (hash, owner) delta rows, and the probe is an equality
    join on ``h``."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.dedup import (
        match_substring_index,
        substring_index,
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bidx = substring_index(batch_df, k=k, text_col=text_col, id_col=id_col)
        try:
            index = spark.read.parquet(index_path)
        except AnalysisException:  # first batch: no index yet
            index = spark.createDataFrame([], bidx.schema)
        spans = match_substring_index(
            batch_df, index, k=k, text_col=text_col, id_col=id_col
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        audit_batch_plan("substring_compaction:spans", spans)
        spans.write.mode("append").parquet(spans_path)
        # bidx is single-consumer (the delta) — no cache; the batch
        # re-shingles once each for the match and the delta, which is
        # per-row work over the micro-batch only.
        delta = bidx.join(index.select("h"), "h", "left_anti")
        audit_batch_plan("substring_compaction:delta", delta)
        delta.write.mode("append").parquet(index_path)

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_substring_")
    q = (
        new_docs.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


def run_stream_substring_gate(
    new_docs: DataFrame,
    index_path: str,
    decisions_path: str,
    k: int = 20,
    max_dup_pct: int = 5000,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 600,
) -> None:
    """ExactSubstr as an ingest GATE — the curation twin of
    :func:`run_stream_substring_compaction`: each micro-batch is
    scored for verbatim reuse against the shingle index (index-wins)
    PLUS within-batch keep-first, every document gets a decision row
    (kept ⇔ its duplicated-token share ≤ ``max_dup_pct`` basis
    points), and ONLY admitted documents' shingles merge into the
    index — rejected content never claims ownership, the
    :func:`run_stream_semdedup_gate` posture at substring granularity.

    Decision rows: (id_col, n_tokens, dup_tokens, dup_pct, kept,
    batch_id) — ``batch_id`` is the gates' ordering column; a
    re-arrival of already-admitted content IS re-judged (dup_pct
    10000, kept false) and writes a fresh decision row each time,
    unlike the semdedup gate's tombstone silence — a novelty verdict
    is about the content in front of the gate, not the id's history.
    All-integer scoring (DIV basis points), float-free.

    Documented deviation from the batch audit (inherent to gating,
    not a defect): a REJECTED document's novel remainder is not
    indexed, so a later document repeating only that remainder is
    admitted as novel — batch-mode keep-first would have covered it.
    The batch twin for offline replays is
    :func:`~auraverse_etl_pipeline_spark.operators.dedup.
    exact_substring_report` over the admitted corpus.

    Scale shape: the compaction loop's joins exactly (one h-probe of
    the bucketed index per batch, one within-batch window, per-doc
    aggregates); decisions are append-only fixed-width rows."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.functions.text import tokens as _tokens
    from auraverse_etl_pipeline_spark.operators.dedup import (
        match_substring_index,
        substring_index,
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        probe = substring_index(batch_df.limit(0), k=k)
        try:
            index = spark.read.parquet(index_path)
        except AnalysisException:  # first batch: no index yet
            index = spark.createDataFrame([], probe.schema)
        spans = match_substring_index(
            batch_df, index, k=k, text_col=text_col, id_col=id_col
        )
        per_doc = spans.groupBy(id_col).agg(
            F.sum("span_tokens").alias("_dup")
        )
        decisions = (
            batch_df.select(
                F.col(id_col),
                F.size(_tokens(F.coalesce(F.col(text_col), F.lit(""))))
                .cast("bigint")
                .alias("n_tokens"),
            )
            .join(per_doc, id_col, "left")
            .select(
                id_col,
                "n_tokens",
                F.coalesce(F.col("_dup"), F.lit(0)).cast("bigint").alias(
                    "dup_tokens"
                ),
                F.expr("coalesce(_dup, 0) * 10000 DIV n_tokens")
                .cast("bigint")
                .alias("dup_pct"),
            )
            .withColumn("kept", F.col("dup_pct") <= max_dup_pct)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        # decisions are consumed twice (the sink and the admit filter)
        # and derive from the index read — cut once, eagerly
        decisions = cut(decisions)
        audit_batch_plan("substring_gate:decisions", decisions)
        decisions.write.mode("append").parquet(decisions_path)
        admitted = batch_df.join(
            decisions.filter("kept").select(id_col), id_col, "left_semi"
        )
        delta = substring_index(
            admitted, k=k, text_col=text_col, id_col=id_col
        ).join(index.select("h"), "h", "left_anti")
        audit_batch_plan("substring_gate:delta", delta)
        delta.write.mode("append").parquet(index_path)

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_substr_gate_")
    q = (
        new_docs.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


#: Output schema of user_running_totals.
USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user cumulative (n_events,
    total_value), emitted once per micro-batch per active user.

    ``applyInPandasWithState`` — the SURVEY §2.6 path for operators
    Spark lacks natively. State is two numbers per user (Arrow-batched
    across the Python boundary); at scale the state store shards by
    user_id with the shuffle, so this is embarrassingly parallel.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # Accumulate integer cents, not floats: float addition is
        # arrival-order-dependent, and the source column carries exactly
        # 2 decimals — so the running total stays exact and matches any
        # batch engine bit-for-bit.
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stream_bm25_indexing(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 600,
) -> None:
    """Continuous lexical indexing — the retrieval twin of
    :func:`run_stream_dedup_compaction`: each micro-batch of documents
    folds into a growing BM25 index laid out as Lucene-style SEGMENTS,
    every write append-only:

    1. within-batch first-writer-wins (deterministic ``min(text)`` per
       id — a crawl can deliver the same id twice in one batch),
    2. index-wins against batches 1..N-1 (left-anti on ids already in
       the postings segments — re-ingested ids add nothing, the
       ``bm25_merge`` idempotence),
    3. the batch delta's postings, its vocabulary-sized df segment,
       and a 1-row stats segment each APPEND as new files; nothing is
       ever rewritten, and the segment identity (disjoint doc sets ⇒
       df and stats ADD) makes read-time consolidation a
       vocabulary-sized sum (:func:`load_stream_bm25_index`).

    Scale shape: per batch the corpus-sized work is one tokenize +
    one (id, term) aggregate of the BATCH only; the existing index is
    touched only as an id-projection parquet scan for the anti-join."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.retrieval import bm25_index

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        uniq = batch_df.groupBy(F.col(id_col).alias("doc_id")).agg(
            F.min(text_col).alias("text")
        )
        idx = bm25_index(uniq, text_col="text", id_col="doc_id", cache=True)
        try:
            seen = spark.read.parquet(f"{index_path}/postings").select("id")
        except AnalysisException:  # first batch: no segments yet
            seen = None
        delta = (
            idx.postings
            if seen is None
            else idx.postings.join(seen.distinct(), "id", "left_anti")
        )
        # EAGER lineage cut, not .cache(): the postings append below
        # auto-refreshes cached plans that read index_path, so a cached
        # delta would recompute against the new listing — and anti-join
        # away the very docs it just wrote — before the df/stats writes.
        delta = cut(delta)
        audit_batch_plan("bm25_indexing:postings", delta)
        delta.write.mode("append").parquet(f"{index_path}/postings")
        dfs = delta.groupBy("term").agg(
            F.count(F.lit(1)).cast("bigint").alias("df")
        )
        audit_batch_plan("bm25_indexing:dfs", dfs)
        dfs.write.mode("append").parquet(f"{index_path}/dfs")
        stats = (
            delta.groupBy("id")
            .agg(F.max("dl").alias("dl"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("dl").cast("bigint").alias("total_len"),
            )
            .fillna(0)
        )
        audit_batch_plan("bm25_indexing:stats", stats)
        stats.write.mode("append").parquet(f"{index_path}/stats")
        delta.unpersist()
        if idx.cache_handle is not None:
            idx.cache_handle.unpersist()

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_bm25_")
    q = (
        new_docs.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


def load_stream_bm25_index(spark: SparkSession, index_path: str):
    """Consolidate the streaming segments into a queryable
    :class:`~auraverse_etl_pipeline_spark.operators.retrieval.Bm25Index`:
    postings are the raw segment scan, per-segment dfs sum per term,
    per-segment stats sum into the single corpus row (the Lucene
    segment identity — possible ONLY because the writer enforced
    disjoint doc sets across segments)."""
    from auraverse_etl_pipeline_spark.operators.retrieval import Bm25Index

    return Bm25Index(
        postings=spark.read.parquet(f"{index_path}/postings"),
        dfs=spark.read.parquet(f"{index_path}/dfs")
        .groupBy("term")
        .agg(F.sum("df").cast("bigint").alias("df")),
        stats=spark.read.parquet(f"{index_path}/stats").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_len").cast("bigint").alias("total_len"),
        ),
    )


def run_stream_ivf_assign(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_s: int = 600,
) -> None:
    """Continuous embedding indexing — the vector-tier twin of
    :func:`run_stream_dedup_compaction` (MinHash) and
    :func:`run_stream_bm25_indexing` (lexical): each micro-batch of
    new vectors is assigned to cells against the PERSISTED centroids
    (``ivf_assign`` — no quantizer refit, ever) and appended into the
    index's cell partitions, so a vector that lands in batch N is
    searchable by every query after batch N.

    Per batch, in order:

    1. within-batch first-writer-wins (deterministic ``min(v)`` per id
       — a feed can deliver the same id twice in one batch),
    2. index-wins against everything already assigned (left-anti on
       the assignments' id projection — a re-ingested id adds nothing;
       the ``merge_into_index`` idempotence, which keeps exactly one
       row per vector id so downstream search never double-counts),
    3. ``ivf_assign`` against the persisted ``centroids`` table
       (broadcast, nlist rows; exact-fold cosine so the cell labels
       are engine-reproducible),
    4. EAGER ``localCheckpoint`` — the delta is derived from a scan of
       the assignments path it is about to append into, and Spark
       auto-refreshes plans on path writes (the lineage-cut gotcha
       pinned in tests/test_streaming.py),
    5. append the delta, ``partitionBy("cell")``, into
       ``{index_path}/assignments`` — new files inside the cells they
       land in; nothing is ever rewritten.

    Scale shape: per batch the corpus-sized work is ONE scan of the
    batch plus an id-projection parquet scan of the index for the
    anti-join; the shuffle carries one fixed-width row per new vector
    (``ivf_assign``'s max_by partial aggregate). State lives on disk
    in the index layout, never in executor memory or a state store."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.similarity import ivf_assign

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cent = spark.read.parquet(f"{index_path}/centroids")
        uniq = batch_df.groupBy(F.col(id_col).alias("id")).agg(
            F.min(vec_col).alias("v")
        )
        try:
            seen = spark.read.parquet(f"{index_path}/assignments").select("id")
        except AnalysisException:  # fresh index: centroids only
            seen = None
        if seen is not None:
            uniq = uniq.join(seen.distinct(), "id", "left_anti")
        delta = ivf_assign(uniq, cent, id_col="id", vec_col="v").select(
            "id", "v", "cell"
        )
        # cluster by cell before the partitioned append (one writer per
        # cell per task, ~one file per cell per batch — the IvfIndex.save
        # rule; an unclustered write is tasks × cells open buffers)
        delta = cut(delta.repartition("cell"))
        audit_batch_plan("ivf_assign:delta", delta)
        delta.write.mode("append").partitionBy("cell").parquet(
            f"{index_path}/assignments"
        )

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_ivf_assign_")
    q = (
        new_vectors.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


def run_stream_lm_quality_gate(
    docs_stream: DataFrame,
    lm,
    decisions_path: str,
    xent_max: float | None = None,
    timeout_s: int = 600,
) -> None:
    """Streaming curation gate with the FULL batch gate set — the
    Gopher rules PLUS the bigram-LM fluency score — so the streaming
    path enforces exactly what the batch ``curation_funnel`` /
    ``crawl_to_corpus_funnel`` gates enforce.

    Per micro-batch: :func:`gopher_report` (a stateless projection)
    joined with :func:`ngram_lm_score` against the PRE-TRAINED
    :class:`BigramLm` ``lm`` — a stream-static join of two broadcast,
    vocabulary-bounded model tables. The per-document transition sum is
    BATCH-LOCAL (a document's transitions all arrive inside its own
    micro-batch), so it runs as a plain batch aggregate inside
    ``foreachBatch`` — no doc-keyed state-store entry is ever created,
    which is what makes this safe on an unbounded stream. Decisions
    append to ``decisions_path`` as one fixed-width row per document.
    """
    from auraverse_etl_pipeline_spark.operators.lm import (
        LM_XENT_MAX,
        ngram_lm_score,
        prepare_scoring_frames,
    )
    from auraverse_etl_pipeline_spark.operators.quality import gopher_report

    ceiling = LM_XENT_MAX if xent_max is None else float(xent_max)
    # materialize the fused scoring frames ONCE for the whole stream
    # (optimization r18): every micro-batch scores against the same
    # frozen model, so the model-table aggregates should not re-run
    # per batch — same logp doubles, just moved once
    lm = prepare_scoring_frames(lm)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        rep = gopher_report(batch_df)
        sc = ngram_lm_score(batch_df, lm).select(
            F.col("id").alias("doc_id"), "n_transitions", "xent"
        )
        dec = rep.join(sc, "doc_id").select(
            "doc_id",
            "n_words",
            "fail_reason",
            F.col("keep").alias("gopher_keep"),
            "xent",
            (F.col("xent").isNotNull() & (F.col("xent") <= F.lit(ceiling))).alias(
                "fluent"
            ),
            # retention order column: compact_decisions(order_col=
            # "batch_id") keeps the latest re-score per doc
            F.lit(batch_id).cast("bigint").alias("batch_id"),
        )
        audit_batch_plan("lm_quality_gate:decisions", dec)
        dec.write.mode("append").parquet(decisions_path)

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_lm_gate_")
    q = (
        docs_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


def run_stream_logreg_gate(
    docs_stream: DataFrame,
    model: DataFrame,
    decisions_path: str,
    num_buckets: int = 1024,
    timeout_s: int = 600,
) -> None:
    """Streaming model-based quality gate — the classifier twin of
    :func:`run_stream_lm_quality_gate`: every micro-batch of documents
    is scored against a PRE-TRAINED logistic-regression ``(bucket, w)``
    model (:func:`~auraverse_etl_pipeline_spark.operators.classifier.
    logreg_train`) via a stream-static broadcast join. Scoring is a
    stateless per-document projection + batch-local aggregate, so no
    state-store entry ever exists — safe on an unbounded stream; this
    is exactly how a fasttext-style gate deploys in a continuous
    ingestion pipeline (the model retrains offline, the stream only
    scores). Decisions append to ``decisions_path`` as one fixed-width
    row per document."""
    from auraverse_etl_pipeline_spark.operators.classifier import logreg_score

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        dec = logreg_score(batch_df, model, num_buckets=num_buckets).select(
            F.col("id").alias("doc_id"),
            "score",
            "prob",
            "predicted",
            # retention order column (compact_decisions contract)
            F.lit(batch_id).cast("bigint").alias("batch_id"),
        )
        audit_batch_plan("logreg_gate:decisions", dec)
        dec.write.mode("append").parquet(decisions_path)

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_logreg_gate_")
    q = (
        docs_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


def run_stream_domain_gate(
    docs_stream: DataFrame,
    blocked_domains: list[str],
    decisions_path: str,
    num_bits: int = BLOCKLIST_NUM_BITS,
    num_hashes: int = BLOCKLIST_NUM_HASHES,
    timeout_s: int = 600,
) -> None:
    """Streaming domain-blocklist gate — the stream twin of
    :func:`~auraverse_etl_pipeline_spark.operators.quality.
    domain_blocklist_funnel`: the Bloom filter builds ONCE from the
    blocklist (offline, like the logreg model), then every micro-batch
    of documents (carrying a ``target_uri`` column) extracts its
    registrable domain, probes the broadcast filter map-side, and
    exact-verifies only FLAGGED domains against the list — a stateless
    per-document projection, no state store, safe on an unbounded
    stream (exactly how a crawl frontier applies a domain blocklist
    continuously). Per-doc decisions (doc_id, domain, gopher,
    bloom_hit, blocked) append to ``decisions_path``."""
    import pyspark.sql.functions as F

    from auraverse_etl_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )
    from auraverse_etl_pipeline_spark.operators.quality import (
        gopher_metrics,
        gopher_rules,
        registrable_domain,
    )

    spark = docs_stream.sparkSession
    bl = spark.createDataFrame(
        [(x,) for x in sorted(blocked_domains)], "bdomain string"
    ).cache()
    bloom = bloom_build(bl.select(F.col("bdomain").alias("k")), "k", num_bits, num_hashes).cache()
    bloom.count()  # materialize the filter once, before the first batch

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        n, mwl, sw = gopher_metrics("text")
        ok_n, ok_len, ok_stop = gopher_rules(n, mwl, sw)
        d = batch_df.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            registrable_domain("target_uri").alias("domain"),
            (ok_n & ok_len & ok_stop).alias("gopher"),
        )
        probed = bloom_might_contain(d, bloom, "domain", num_bits, num_hashes)
        dec = probed.join(
            F.broadcast(bl.withColumn("on_list", F.lit(True))),
            probed.domain == bl.bdomain,
            "left",
        ).select(
            "doc_id",
            "domain",
            "gopher",
            "bloom_hit",
            (F.col("bloom_hit") & F.coalesce("on_list", F.lit(False))).alias("blocked"),
            # retention order column (compact_decisions contract)
            F.lit(batch_id).cast("bigint").alias("batch_id"),
        )
        audit_batch_plan("domain_gate:decisions", dec)
        dec.write.mode("append").parquet(decisions_path)

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_domain_gate_")
    q = (
        docs_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()
        bloom.unpersist()
        bl.unpersist()


def run_stream_semdedup_gate(
    new_vectors: DataFrame,
    index_path: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_s: int = 600,
    tombstones_path: str | None = None,
) -> None:
    """Continuous semantic dedup — the SemDeDup twin of
    :func:`run_stream_dedup_compaction` (MinHash) and the eighth
    closed incremental loop: each micro-batch of new embeddings is
    cell-assigned against the PERSISTED centroids (no quantizer refit,
    ever — the ``ivf_assign`` day-2 contract) and pairs ONLY against
    the in-cell members of the persisted index (the cluster-bounded
    SemDeDup trick, :func:`semdedup_clusters`), so a near-duplicate of
    anything accepted in any earlier batch — or in the day-1 corpus
    build — is caught without ever re-pairing the corpus.

    Per batch, in order:

    1. within-batch first-writer-wins (deterministic ``min(v)`` per
       id),
    2. index-wins on IDs (left-anti against the members' id
       projection — a re-ingested id adds nothing and writes no
       decision row), and — when ``tombstones_path`` points at the
       durable take-down table :func:`~auraverse_etl_pipeline_spark.
       operators.retire.ivf_retire` was driven by — tombstone-wins:
       a RETIRED id that re-arrives is dropped silently too (no
       decision row: a verdict would re-create the erased linkage),
       so retirement survives re-ingest,
    3. ``ivf_assign`` against the persisted centroids (clamped
       exact-fold cosine — engine-reproducible cells),
    4. INDEX-WINS on content: an arrival whose clamped cosine to ANY
       in-cell accepted member ≥ ``threshold`` is dropped with reason
       ``index_dup`` — already-accepted members are never retracted
       (the streaming deviation from the batch twin's symmetric
       centrality rule: retraction is not append-safe; the batch
       operator re-run over the full corpus remains the ground truth),
    5. the survivors of (4) play the batch twin's DECLARATIVE
       centrality rule among themselves (drop iff the more-central
       member of any above-threshold in-cell within-batch pair, ties
       to the higher id) — reason ``batch_dup``,
    6. ONE eager checkpoint of the batch's full VERDICT set (it
       derives from a scan of the very path the member append below
       changes — the lineage-cut gotcha pinned in
       tests/test_streaming.py; ``cut``), then append the survivors to
       ``{index_path}/members`` (partitioned by cell) FIRST and every
       verdict to ``{index_path}/decisions`` after. Members-first is
       the gate's crash posture (optimization r18, restoring the
       pre-r17 order without its second checkpoint): a crash between
       the appends leaves a member with no decision row — deliberately
       fsck-SILENT (it heals invisibly; ``gate_index_fsck`` reserves
       ``kept_decision_without_member`` for the retire-skip
       signature) — never a kept decision without a member, which
       would raise a permanent false alarm for the wrong root cause.

    Scale shape: per batch the work is one batch scan, one broadcast
    argmax (centroids: nlist rows), and a cell-keyed equality join of
    the batch against in-cell members — batch × occupancy pairs, never
    corpus × corpus; hot cells are the same documented skew risk as
    the batch operator and compose with ``ivf_rebalance`` on the
    persisted index between batches. State lives on disk in the index
    layout, never in executor memory."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        cosine_similarity_expr,
        ivf_assign,
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors.exceptions.captured import AnalysisException

        spark = batch_df.sparkSession
        cent = spark.read.parquet(f"{index_path}/centroids")
        try:
            members = spark.read.parquet(f"{index_path}/members")
        except AnalysisException:
            # fresh gate: centroids only, nothing accepted yet — the
            # first batch plays the within-batch rule against itself
            # (same posture as run_stream_ivf_assign's fresh index)
            members = spark.createDataFrame(
                [],
                "id bigint, v array<double>, centroid_cos double, cell int",
            )
        uniq = batch_df.groupBy(F.col(id_col).alias("id")).agg(
            F.min(vec_col).alias("v")
        )
        uniq = uniq.join(members.select("id").distinct(), "id", "left_anti")
        if tombstones_path is not None:
            # take-down stickiness: ivf_retire erases a retired id
            # from the members, so without this a re-ingest would
            # sail back in. The durable tombstone table the retire
            # was driven by also gates arrivals — silently, like
            # re-ingested ids: an erased identity writes NO decision
            # row (a verdict row would re-create the id linkage the
            # erasure removed). Content-level stickiness (same bytes,
            # new id) composes via the Bloom digest-blocklist tier
            # instead — a digest is retainable where content is not.
            try:
                tomb = spark.read.parquet(tombstones_path)
            except AnalysisException:
                # no take-down has been recorded yet (empty backlog):
                # an absent durable table is an empty tombstone set,
                # not a stream-killing error — the gate_maintenance_
                # tick guard, applied to the gate itself. ONLY the
                # bare read sits in the try: a present-but-misshapen
                # table (wrong id column) must fail the stream loudly,
                # never silently disable take-down stickiness.
                tomb = None
            if tomb is not None:
                uniq = uniq.join(
                    F.broadcast(tomb.select("id").distinct()), "id", "left_anti"
                )
        a = ivf_assign(uniq, cent, id_col="id", vec_col="v", clamp=True).cache()
        pair_cos = F.least(F.lit(1.0), cosine_similarity_expr("v", "mv"))
        idx_dup = (
            a.join(
                members.select("cell", F.col("v").alias("mv")), "cell"
            )
            .filter(pair_cos >= F.lit(float(threshold)))
            .select("id")
            .distinct()
        )
        rest = a.join(idx_dup.withColumn("_i", F.lit(True)), "id", "left").cache()
        surv = rest.filter(F.col("_i").isNull()).select(
            "id", "v", "cell", "centroid_cos"
        )
        left = surv.select(
            F.col("id").alias("id1"), F.col("v").alias("v1"), "cell",
            F.col("centroid_cos").alias("cs1"),
        )
        right = surv.select(
            F.col("id").alias("id2"), F.col("v").alias("v2"), "cell",
            F.col("centroid_cos").alias("cs2"),
        )
        in_batch_cos = F.least(F.lit(1.0), cosine_similarity_expr("v1", "v2"))
        losers = (
            left.join(right, "cell")
            .filter(F.col("id1") < F.col("id2"))
            .filter(in_batch_cos >= F.lit(float(threshold)))
            .select(
                F.when(F.col("cs1") > F.col("cs2"), F.col("id1"))
                .when(F.col("cs1") < F.col("cs2"), F.col("id2"))
                .otherwise(F.greatest("id1", "id2"))
                .alias("id")
            )
            .distinct()
        )
        verdicts = (
            rest.join(losers.withColumn("_b", F.lit(True)), "id", "left")
            .select(
                "id",
                "cell",
                "centroid_cos",
                F.when(F.col("_i").isNotNull(), F.lit("index_dup"))
                .when(F.col("_b").isNotNull(), F.lit("batch_dup"))
                .otherwise(F.lit("kept"))
                .alias("reason"),
                "v",
            )
        )
        # ONE eager cut, placed on the frame BOTH writes derive from
        # (optimization r18): the batch's full verdict set materializes
        # while the members listing its plan reads is still the
        # batch-start one, and neither write below re-reads any path —
        # so the member append cannot invalidate the decision plan (the
        # r17 reorder this replaces) and no second checkpoint is needed.
        # This restores the ORIGINAL crash posture: members are written
        # FIRST, decisions after. A crash between the two appends
        # leaves a member with no decision row — deliberately
        # fsck-SILENT (gate_index_fsck checks kept-decisions without
        # members, the retire-skip signature; never the reverse), so an
        # append crash heals invisibly on re-ingest instead of
        # manufacturing a permanent kept_decision_without_member alarm
        # for the wrong root cause (round-17 verdict, "what's wrong"
        # #2; pinned in tests/test_streaming.py).
        verdicts = cut(verdicts)
        decisions = verdicts.select(
            "id", "cell", "centroid_cos", (F.col("reason") == "kept").alias("kept"),
            "reason",
            # the order column every log-maintenance pass keys on:
            # compact_decisions(order_col="batch_id") retention and
            # quantizer_drift_audit(batch_col="batch_id") — the
            # retrain trigger — both read it straight off this log
            F.lit(batch_id).cast("bigint").alias("batch_id"),
        )
        delta = (
            verdicts.filter(F.col("reason") == "kept")
            .select("id", "v", "cell", "centroid_cos")
            # cluster by cell before the partitioned append (the
            # IvfIndex.save rule: one writer per cell per task) — a
            # cheap shuffle of the checkpointed kept rows, not a
            # re-derivation
            .repartition("cell")
        )
        audit_batch_plan("semdedup_gate:delta", delta)
        # members FIRST, decisions after (crash posture above); both
        # plans read only the checkpointed verdicts, so the order is
        # free to follow the posture instead of the lineage.
        delta.write.mode("append").partitionBy("cell").parquet(
            f"{index_path}/members"
        )
        decisions.write.mode("append").parquet(f"{index_path}/decisions")
        rest.unpersist()
        a.unpersist()

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_semdedup_gate_")
    q = (
        new_vectors.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


def run_stream_url_frontier(
    urls_stream: DataFrame,
    frontier_path: str,
    url_col: str = "raw_url",
    id_col: str = "doc_id",
    timeout_s: int = 600,
) -> None:
    """Continuous crawl-frontier URL dedup — the URL-tier twin of the
    MinHash/BM25/IVF incremental loops: each micro-batch of discovered
    raw URLs CANONICALIZES (``functions/urls.py`` — lowercase, port/
    fragment strip, utm drop, query sort) and only canonical forms
    never seen before append to the frontier, so a URL discovered in
    batch N is never re-fetched by any later batch. Exactly how a
    crawler's frontier dedup runs: the canonical form is the identity,
    the frontier is an append-only parquet set.

    Per batch: within-batch first-writer-wins (min id per canonical
    URL), index-wins left-anti against the persisted frontier's
    canonical column, EAGER ``localCheckpoint`` before the append (the
    delta reads the path it appends into — the lineage-cut gotcha
    pinned in tests/test_streaming.py), one fixed-width row per new
    URL. State lives on disk, never in a state store.

    Cross-batch semantics: first-DISCOVERY-wins. The frontier keeps
    the id that first reached it, so it equals a global MIN(doc_id)
    oracle only when micro-batches arrive in doc_id order (true for
    the rate/file sources used here); with unordered batches a later
    batch carrying a lower id for an already-seen canonical URL keeps
    the earlier, higher id — frontier ids are first-discovery ids,
    which is the crawler contract (the first fetch wins), not an
    argmin."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.functions.urls import canonical_url

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        firsts = (
            batch_df.select(
                F.col(id_col).cast("bigint").alias("doc_id"),
                canonical_url(url_col).alias("canon_url"),
            )
            .groupBy("canon_url")
            .agg(F.min("doc_id").alias("first_doc_id"))
        )
        try:
            seen = spark.read.parquet(frontier_path).select("canon_url")
        except AnalysisException:  # first batch: no frontier yet
            seen = None
        if seen is not None:
            firsts = firsts.join(seen.distinct(), "canon_url", "left_anti")
        delta = cut(firsts)
        audit_batch_plan("url_frontier:delta", delta)
        delta.write.mode("append").parquet(frontier_path)

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_url_frontier_")
    q = (
        urls_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
        audit_stream_plan("foreachBatch_stream", q)
    finally:
        q.stop()


def gate_index_fsck(spark, index_path: str) -> DataFrame:
    """Integrity audit (fsck) for a persisted gate index — one pass
    over the index tables returning ``(check, violations)`` rows, for
    the cron that runs BETWEEN maintenance ticks: every crash window
    in the rebalance/retrain/retire machinery is designed to heal on
    the next call, and this is the measurement that tells an operator
    whether anything is currently sitting inside one.

    Checks (0 = healthy):

    - ``member_cell_without_centroid`` — distinct member cells with no
      centroid row: a member the probe set can NEVER reach (the
      retrain mid-crash window, or a corrupted centroid table).
    - ``duplicate_member_id`` — ids holding more than one member row:
      the append paths are anti-joined so this only arises from a
      partial partition overwrite.
    - ``duplicate_centroid_cell`` — a cell with two centroids: every
      probe scores it twice.
    - ``null_member_vector`` — unsearchable rows.
    - ``kept_decision_without_member`` — ids whose latest decision
      says ``kept`` but which no longer appear in the members: either
      an id retired WITHOUT erasing its decision rows (run
      ``log_retire`` on the decisions log with the same tombstones)
      or a lost partition. 0 when no decisions log exists.
    - ``pending_marker_present`` — a leftover ``centroids_pending``
      staged-commit marker: the next :func:`rebalance_gate_index`
      call will promote or discard it; flagged so the operator knows
      a crash happened.

    Centroids with zero members are NOT a violation (legal after
    retirement empties a cell; wasted probes only). Shape
    (optimization r17): ONE cached per-id members ledger (row count,
    null-vector count, cell set in a single aggregate scan) feeds the
    duplicate/null/kept-decision tallies — fused into one final
    aggregate with the decisions full-outer join — and the orphan-cell
    explode; centroid checks are model-sized. Bounded by the index, no
    corpus access; the returned frame carries the paired
    ``release_caches()`` handle."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.caching import release_after

    def _read(path):
        try:
            return spark.read.parquet(path)
        except AnalysisException:
            return None

    members = _read(f"{index_path}/members")
    cent = _read(f"{index_path}/centroids")
    decisions = _read(f"{index_path}/decisions")
    pending = _read(f"{index_path}/centroids_pending")

    def row(name, df_count):
        return df_count.select(
            F.lit(name).alias("check"), F.col("n").cast("bigint").alias("violations")
        )

    zero = spark.range(1).select(F.lit(0).alias("n"))
    # ONE per-id ledger scan of the members table (optimization r17):
    # per-id row count / null-vector count / cell set in one aggregate
    # feeds the duplicate, null-vector, kept-decision and orphan-cell
    # checks — the per-check spelling scanned members twice and held a
    # cached (id, cell) projection alive across the branches.
    # cached: the ledger is consumed by the fused tallies AND the
    # orphan-cell explode — one members scan total, released via the
    # returned frame's paired release_caches handle
    caches = []
    m_led = None
    if members is not None:
        m_led = members.groupBy("id").agg(
            F.count(F.lit(1)).alias("_c"),
            F.count(F.when(F.col("v").isNull(), True)).alias("_nv"),
            F.collect_set("cell").alias("_cells"),
        ).cache()
        caches.append(m_led)
    if decisions is not None and members is not None:
        if "batch_id" in decisions.columns:
            # "latest decision says kept": the lm/logreg gates RE-SCORE
            # ids across batches, so an id kept early and rejected later
            # is healthy — judge each id by its newest verdict (max_by
            # over the batch_id the gates stamp). Semdedup decisions are
            # one-row-per-id, where this reduces to the plain filter.
            # Tie-break deterministically: conflicting verdicts WITHIN
            # one batch (themselves a corruption — a replayed append)
            # resolve to kept=true, the conservative side that SURFACES
            # the id, instead of max_by's arbitrary per-run pick.
            latest_kept = (
                decisions.groupBy("id")
                .agg(
                    F.max_by(
                        "kept", F.struct(F.col("batch_id"), F.col("kept"))
                    ).alias("kept")
                )
                .filter("kept")
                .select("id")
            )
        else:
            latest_kept = decisions.filter("kept").select("id").distinct()
        # dup/null/kept from ONE pass over the ledger: the kept check's
        # anti-join rides the same frame as the two member tallies
        led = m_led.withColumn("_m", F.lit(True)).join(
            latest_kept.withColumn("_k", F.lit(True)), "id", "full_outer"
        )
        fused = led.agg(
            F.count(F.when(F.col("_c") > 1, True)).alias("dup"),
            F.coalesce(F.sum("_nv"), F.lit(0)).alias("nullv"),
            F.count(F.when(F.col("_k") & F.col("_m").isNull(), True)).alias(
                "kept_orphan"
            ),
        )
    elif members is not None:
        fused = m_led.agg(
            F.count(F.when(F.col("_c") > 1, True)).alias("dup"),
            F.coalesce(F.sum("_nv"), F.lit(0)).alias("nullv"),
            F.lit(0).alias("kept_orphan"),
        )
    else:
        fused = spark.range(1).select(
            F.lit(0).alias("dup"),
            F.lit(0).alias("nullv"),
            F.lit(0).alias("kept_orphan"),
        )
    dupnull_rows = fused.selectExpr(
        "stack(3, 'duplicate_member_id', CAST(dup AS BIGINT),"
        " 'null_member_vector', CAST(nullv AS BIGINT),"
        " 'kept_decision_without_member', CAST(kept_orphan AS BIGINT))"
        " AS (check, violations)"
    )
    if members is not None and cent is not None:
        orphan = row(
            "member_cell_without_centroid",
            m_led.select(F.explode("_cells").alias("cell"))
            .distinct()
            .join(cent.select("cell"), "cell", "left_anti")
            .agg(F.count(F.lit(1)).alias("n")),
        )
    else:
        orphan = row("member_cell_without_centroid", zero)
    if cent is not None:
        dup_c = row(
            "duplicate_centroid_cell",
            cent.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter("c > 1")
            .agg(F.count(F.lit(1)).alias("n")),
        )
    else:
        dup_c = row("duplicate_centroid_cell", zero)
    marker = row(
        "pending_marker_present",
        spark.range(1).select(F.lit(1 if pending is not None else 0).alias("n")),
    )
    out = (
        orphan.unionByName(dupnull_rows)
        .unionByName(dup_c)
        .unionByName(marker)
    )
    return release_after(out, *caches)


def _watermark_filter(spark, log: DataFrame, wm_path: str) -> DataFrame:
    """Apply a consumed-evidence watermark (1-row parquet holding the
    max ``batch_id`` a previous retrain consumed) to an append-only
    log — shared by both maintenance ticks so the discipline cannot
    drift between them. An absent watermark AND a readable-but-
    degenerate one (zero rows, or a null batch_id from an all-null
    max) degrade to the unfiltered log instead of aborting the tick."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        wm_rows = spark.read.parquet(wm_path).collect()
    except AnalysisException:
        wm_rows = []
    if wm_rows and wm_rows[0].batch_id is not None:
        return log.filter(F.col("batch_id") > F.lit(wm_rows[0].batch_id))
    return log


def gate_maintenance_tick(
    spark,
    index_path: str,
    max_cell_size: int,
    drift_threshold: float = 0.05,
    tombstones_path: str | None = None,
    nlist: int | None = None,
    max_iter: int = 2,
    max_rounds: int = 8,
    dim: int | None = None,
) -> dict:
    """ONE cron-able maintenance tick for a gate index — the whole
    triad in dependency order, each stage firing only on its own
    evidence:

    1. **retire** — if ``tombstones_path`` holds a (durable,
       caller-owned) take-down table, :func:`~auraverse_etl_pipeline_
       spark.operators.retire.ivf_retire` erases those ids first (no
       point re-fitting or splitting members about to vanish).
    2. **retrain** — :func:`~auraverse_etl_pipeline_spark.operators.
       similarity.quantizer_drift_audit` over
       ``{index_path}/decisions`` (the gates stamp ``batch_id``); any
       retrain-flagged cell fires :func:`retrain_gate_index` — the
       expensive full re-fit, gated on drift evidence so it runs
       rarely. Skipped silently when no decisions log exists yet.
    3. **rebalance** — :func:`rebalance_gate_index` loops to its
       fixed point (each pass halves hot cells geometrically;
       ``max_rounds`` bounds the loop), run LAST because a re-fit
       re-labels everything and does not enforce the cap.

    Drift evidence is WATERMARKED: decisions were scored against the
    geometry of their day, so batches consumed by one retrain cannot
    indict the next geometry — without this, the append-only log's
    old drifted batches would re-fire the (expensive) retrain on
    every tick forever, and because retrain and rebalance do not
    commute (a re-fit re-labels what the rebalance just split) the
    tick would oscillate. The tick keeps a 1-row
    ``{index_path}/retrain_watermark`` (max batch_id consumed) and
    audits only batches above it; a fresh post-retrain cell needs two
    NEW batches to trend before it can flag again.

    Between ticks the gates keep appending; every stage is idempotent
    and crash-tolerant on its own (see each operator's posture), so a
    died tick heals by simply running the next tick. Returns a
    summary dict: ``retired_cells`` (touched by the take-down),
    ``retrained`` / ``moved`` (re-fit fired, members relabeled),
    ``rebalance_rounds`` / ``split_cells`` (cap enforcement)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.retire import ivf_retire
    from auraverse_etl_pipeline_spark.operators.similarity import (
        quantizer_drift_audit,
    )

    retired_cells: list[int] = []
    if tombstones_path is not None:
        try:
            tomb = spark.read.parquet(tombstones_path)
        except AnalysisException:
            tomb = None
        if tomb is not None:
            retired_cells = ivf_retire(spark, index_path, tomb)
            # the erasure posture the other retire paths keep
            # (index_retire_ids, compressed_index_tick's encode-log
            # stage): the retired ids' decision/drift rows must go
            # too — a lingering kept row is the exact
            # kept_decision_without_member state gate_index_fsck
            # flags as a forgotten log_retire, and the linkage
            # itself is what an erasure request demands removed.
            # log_retire probes internally (r16 None-signal contract)
            # so an untouched log costs one semi-join, not a rewrite.
            try:
                spark.read.parquet(f"{index_path}/decisions")
                has_log = True
            except AnalysisException:
                has_log = False
            if has_log:
                from auraverse_etl_pipeline_spark.operators.retire import (
                    log_retire,
                )

                log_retire(spark, f"{index_path}/decisions", tomb)
    retrained, moved = False, 0
    wm_path = f"{index_path}/retrain_watermark"
    try:
        decisions = spark.read.parquet(f"{index_path}/decisions")
    except AnalysisException:
        decisions = None
    if decisions is not None and "batch_id" in decisions.columns:
        decisions = _watermark_filter(spark, decisions, wm_path)
        flagged = (
            quantizer_drift_audit(decisions, drift_threshold=drift_threshold)
            .filter("retrain")
            .limit(1)
            .count()
            > 0
        )
        if flagged:
            consumed = decisions.agg(F.max("batch_id").alias("batch_id"))
            consumed = cut(consumed)
            moved = retrain_gate_index(
                spark, index_path, nlist=nlist, max_iter=max_iter, dim=dim
            )
            retrained = True
            consumed.write.mode("overwrite").parquet(wm_path)
    rounds, split_cells = 0, []
    for _ in range(max_rounds):
        split = rebalance_gate_index(spark, index_path, max_cell_size, dim=dim)
        if not split:
            break
        rounds += 1
        split_cells.extend(split)
    return {
        "retired_cells": retired_cells,
        "retrained": retrained,
        "moved": moved,
        "rebalance_rounds": rounds,
        "split_cells": split_cells,
    }


def retrain_gate_index(
    spark,
    index_path: str,
    nlist: int | None = None,
    max_iter: int = 2,
    dim: int | None = None,
    members_table: str = "members",
) -> int:
    """Re-FIT the gate index's coarse quantizer over its current
    members — the action :func:`~auraverse_etl_pipeline_spark.
    operators.similarity.quantizer_drift_audit`'s retrain flag fires,
    completing the maintenance triad: *occupancy* skew →
    :func:`rebalance_gate_index` (splits hot cells, cold geometry
    untouched), *drift* decay → THIS (new geometry everywhere),
    take-downs → :func:`~auraverse_etl_pipeline_spark.operators.
    retire.ivf_retire`. A drifting stream decays every arrival's
    ``centroid_cos`` against the frozen day-1 quantizer; splitting
    cells cannot fix geometry that no longer matches the data, only a
    re-fit can — which is why this is the EXPENSIVE pass (full members
    rewrite, unavoidable: every cell label changes meaning) and the
    drift audit exists to fire it rarely and on evidence.

    Mechanics: the deterministic in-engine Lloyd quantizer
    (``ivf_index(quantizer="lloyd")`` — sample init + ``max_iter``
    clamped-cosine/DECIMAL-mean rounds, no RNG) re-fits over the
    member vectors, every member is re-assigned (clamped argmax), and
    both tables are rewritten. Decisions are untouched — verdicts
    record history, and their logged ``centroid_cos`` values are what
    the NEXT drift audit trends against the new geometry's scores.

    Crash posture (documented, not staged): the members delta is
    materialized behind the checkpoint cut (the in-place full
    overwrite destroys the only other copy) and written BEFORE the
    centroids. A crash between the two writes leaves new cell labels
    under old centroids
    — probes still answer (same cell-id space), recall degraded until
    the next retrain call, which is idempotent and deterministic, so
    re-running converges to the same final state. No member is ever
    lost in any window.

    Returns the number of members whose cell changed (0 = geometry
    was already converged at this nlist/max_iter)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        cosine_similarity_expr,
        ivf_index,
    )

    members = spark.read.parquet(f"{index_path}/{members_table}")
    if nlist is None:
        nlist = spark.read.parquet(f"{index_path}/centroids").count()
    new = ivf_index(
        members.select("id", "v"),
        nlist=int(nlist),
        quantizer="lloyd",
        max_iter=max_iter,
        id_col="id",
        vec_col="v",
        dim=dim,
    )
    relabeled = new.assignments.join(
        F.broadcast(new.centroids), "cell"
    ).select(
        "id",
        "v",
        "cell",
        F.least(
            F.lit(1.0), cosine_similarity_expr("v", "centroid", dim=dim)
        ).alias("centroid_cos"),
    )
    # checkpoint FIRST, then count moved off the checkpointed delta
    # (optimization r18, the retrain_pq_index discipline): the full
    # re-assignment — the pass's dominant cost — runs once instead of
    # twice, and the old-labels comparison still materializes to a
    # driver int BEFORE the overwrite destroys its source files
    delta = cut(relabeled.repartition("cell"))
    moved = (
        delta.select("id", F.col("cell").alias("new_cell"))
        .join(members.select("id", "cell"), "id")
        .filter(F.col("new_cell") != F.col("cell"))
        .count()
    )
    new_cent = cut(new.centroids)
    handle = getattr(new.assignments, "release_caches", None)
    if callable(handle):
        handle()
    # full overwrite (geometry changed everywhere) — members first,
    # centroids last (see crash posture above)
    delta.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_path}/{members_table}"
    )
    # model-sized (nlist rows): one file, not one per default partition
    new_cent.coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")
    return moved


def retrain_pq_index(
    spark,
    index_path: str,
    m: int = 8,
    ksub: int = 16,
    max_iter: int = 8,
    dim: int | None = None,
    members_table: str = "assignments",
    codes_table: str = "pq_codes",
) -> int:
    """Re-FIT a persisted PQ index's codebooks over its current member
    vectors and re-encode every code — the compressed-domain twin of
    :func:`retrain_gate_index`, completing the day-2 story for the
    IVF-PQ family: the coarse quantizer has rebalance (skew), retrain
    (drift) and retire (take-downs); the PRODUCT quantizer was still
    frozen at day 1, and a drifted corpus decays ADC ranking quality
    exactly the way drift decays ``centroid_cos`` — codebook cells fit
    yesterday's distribution, so today's vectors all land near cell
    boundaries.

    Layout contract (the cell-partitioned compressed layout pinned in
    ``tests/test_retire.py``): ``{index_path}/{members_table}`` holds
    (id, v, cell) — PQ codes are lossy, so the re-fit reads the raw
    vectors the members table already retains for exact re-ranking;
    ``{index_path}/{codes_table}`` holds (id, sub, code) partitioned
    by ``cell`` (probed search prunes partitions); ``{index_path}/
    codebooks`` holds (sub, code, centroid). Codebooks re-fit with the
    deterministic in-engine Lloyd mode (sample init per subspace,
    ``max_iter`` exact-fold L2 argmin + fixed-point mean rounds, no
    RNG), so the pass is idempotent and engine-reproducible.

    Retire interplay (pinned in tests/test_retire.py): the members
    table is the SOURCE OF TRUTH — a take-down must retire it (codes
    as followers), because this pass re-derives every code from the
    members and would resurrect ids erased only from the code table.

    Crash posture (the members-then-centroids discipline): codes are
    eagerly materialized behind the checkpoint cut and written BEFORE
    the codebooks. A crash between the writes leaves new codes under
    old codebooks — searches still answer (same code-id space), ADC
    quality degraded until the re-run, which is deterministic and
    converges to the same final state. No code row is ever lost.

    Returns the number of (id, sub) rows whose code changed
    (0 = codebooks were already converged at this m/ksub/max_iter)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    members = spark.read.parquet(f"{index_path}/{members_table}")
    books = pq_codebooks(
        members,
        m=m,
        ksub=ksub,
        dim=dim,
        quantizer="lloyd",
        max_iter=max_iter,
        id_col="id",
        vec_col="v",
    ).transform(cut)
    recoded = pq_encode(
        members, books, m=m, dim=dim, id_col="id", vec_col="v"
    ).join(members.select("id", "cell"), "id")
    # checkpoint FIRST, then count moved off the checkpointed delta:
    # the re-encode (the pass's dominant cost at scale) runs once, and
    # the old-codes comparison still materializes to a driver int
    # BEFORE the overwrite destroys its source files (the
    # read-then-overwrite cut)
    delta = cut(recoded.repartition("cell"))
    old = spark.read.parquet(f"{index_path}/{codes_table}")
    moved = (
        delta.select("id", "sub", F.col("code").alias("new_code"))
        .join(old.select("id", "sub", "code"), ["id", "sub"])
        .filter(F.col("new_code") != F.col("code"))
        .count()
    )
    # full overwrite (every code's meaning changed) — codes first,
    # codebooks last (see crash posture above)
    delta.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_path}/{codes_table}"
    )
    # model-sized (m×ksub rows): one file, not one per default partition
    books.coalesce(1).write.mode("overwrite").parquet(f"{index_path}/codebooks")
    return moved


def retrain_sq_index(
    spark,
    index_path: str,
    dim: int | None = None,
    members_table: str = "assignments",
    codes_table: str = "sq_codes",
) -> int:
    """Re-FIT a persisted SQ8 index's per-dimension min/max stats over
    its current members and re-encode every code array — the scalar-
    quantization sibling of :func:`retrain_pq_index`. SQ8 drift is the
    nastier failure mode: components OUTSIDE yesterday's [vmin, vmax]
    clamp to the byte edges, so a shifted corpus collapses whole
    dimensions to code 0/255 and the compressed-domain shortlist goes
    blind in exactly the dimensions that moved.

    Same layout/crash ORDER as the PQ pass — codes (id, codes
    array<tinyint>) partitioned by cell rewritten FIRST behind the
    checkpoint cut, the 1-row ``{index_path}/sq_stats`` table last —
    but the window is semantically WORSE than PQ's (advice r15): PQ's
    new codes under old codebooks are stale-but-valid geometry (every
    code still names a real centroid), while new SQ codes decoded
    against the old vmin/vmax reconstruct systematically WRONG values
    — the old affine range no longer describes the new codes, so a
    reader inside the window sees skewed decodes, not merely stale
    ones. The window is one 1-row write wide, the pass is
    deterministic (min/max select existing values — no arithmetic)
    and idempotent, so a crash heals on re-run; operators who need
    PQ-grade in-window degradation should point readers at a staged
    copy and swap directories instead of re-fitting in place. Returns
    the number of ids whose code array changed."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        sq_encode,
        sq_stats,
    )

    members = spark.read.parquet(f"{index_path}/{members_table}")
    stats = cut(sq_stats(members, id_col="id", vec_col="v"))
    recoded = sq_encode(
        members, stats, dim=dim, id_col="id", vec_col="v"
    ).join(members.select("id", "cell"), "id")
    # checkpoint first, count moved off the checkpointed delta — one
    # re-encode, and the comparison still materializes before the
    # overwrite (see retrain_pq_index)
    delta = cut(recoded.repartition("cell"))
    old = spark.read.parquet(f"{index_path}/{codes_table}")
    moved = (
        delta.select("id", F.col("codes").alias("new_codes"))
        .join(old.select("id", "codes"), "id")
        .filter(F.col("new_codes") != F.col("codes"))
        .count()
    )
    delta.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_path}/{codes_table}"
    )
    # 1-row stats table: one file
    stats.coalesce(1).write.mode("overwrite").parquet(f"{index_path}/sq_stats")
    return moved


def compressed_index_tick(
    spark,
    index_path: str,
    tombstones_path: str | None = None,
    m: int = 8,
    ksub: int = 16,
    max_iter: int = 8,
    dim: int | None = None,
    qerr_threshold: float = 0.5,
    clamp_threshold: float = 0.25,
) -> dict:
    """ONE cron-able maintenance tick for a persisted compressed index
    (the IVF-PQ/SQ layout: ``assignments`` + optional ``pq_codes``/
    ``codebooks`` + optional ``sq_codes``/``sq_stats``) — the
    compressed-family twin of :func:`gate_maintenance_tick`, each
    stage firing only on its own evidence:

    1. **retire** — a durable take-down table anti-joins EVERY present
       cell-partitioned surface, members first (the source of truth —
       a codes-only erase would be resurrected by the next re-fit,
       pinned in tests/test_retire.py), then each code table.
    2. **PQ retrain** — :func:`~auraverse_etl_pipeline_spark.
       operators.similarity.pq_drift_audit` over ``{index_path}/
       encode_log`` (the (batch_id, qerr) rows :func:`~auraverse_etl_
       pipeline_spark.operators.similarity.pq_quantization_error`
       logs at encode time); a rise past ``qerr_threshold`` fires
       :func:`retrain_pq_index`. WATERMARKED exactly like the gate
       tick's retrain (``{index_path}/pq_retrain_watermark``, max
       batch_id consumed): the log is append-only, so without it the
       batches that justified one re-fit would re-fire the expensive
       pass every tick forever. Skipped silently when no log exists.
    3. **SQ retrain** — :func:`~auraverse_etl_pipeline_spark.
       operators.similarity.sq_clamp_audit` over the CURRENT
       ``sq_codes``; saturation past ``clamp_threshold`` fires
       :func:`retrain_sq_index`. No watermark needed — the signal is
       current STATE, not accumulated evidence: a successful re-fit
       de-saturates the very codes the next tick measures, so the
       loop is self-quenching (and a corpus whose true spread keeps
       the fraction high genuinely needs the operator's attention,
       not silence).

    Every stage is idempotent and crash-tolerant on its own, so a
    died tick heals by running the next one. Returns ``{"retired":
    [touched surfaces], "pq_retrained": bool, "pq_moved": int,
    "sq_retrained": bool, "sq_moved": int}``."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.retire import ivf_retire
    from auraverse_etl_pipeline_spark.operators.similarity import (
        pq_drift_audit,
        sq_clamp_audit,
    )

    def _read(path):
        try:
            return spark.read.parquet(path)
        except AnalysisException:
            return None

    retired: list[str] = []
    if tombstones_path is not None:
        tomb = _read(tombstones_path)
        if tomb is not None:
            # members FIRST (source of truth) — the crash posture: a
            # tick that dies here leaves followers un-retired (the
            # orphan-codes fsck signature, healed by the idempotent
            # re-run), never a codes-only erase the next re-fit would
            # resurrect. The FOLLOWER surfaces carry no relative order
            # contract among themselves, and each rewrites its own
            # table — so they run as overlapped jobs (``run_jobs``,
            # guide §2.6): the tail of one surface's
            # rewrite back-fills executors with the next one's scan,
            # and the wall cost of the follower stage drops from the
            # sum to roughly the max.
            if _read(f"{index_path}/assignments") is not None:
                if ivf_retire(spark, index_path, tomb, members_table="assignments"):
                    retired.append("assignments")

            def _retire_follower(table: str) -> str | None:
                if table == "encode_log":
                    # the encode log is per-id too: erase the retired
                    # ids' qerr rows (the log_retire posture — an
                    # erased identity must not keep indicting the
                    # codebooks either). log_retire probes internally
                    # and returns None on the untouched-log
                    # short-circuit, so one semi-join serves both the
                    # rewrite decision and the summary row (advice
                    # r15: the old outer probe duplicated the
                    # identical limit(1) scan every tick under a
                    # standing tombstone)
                    if _read(f"{index_path}/encode_log") is None:
                        return None
                    from auraverse_etl_pipeline_spark.operators.retire import (
                        log_retire,
                    )

                    if log_retire(spark, f"{index_path}/encode_log", tomb) is not None:
                        return "encode_log"
                    return None
                if _read(f"{index_path}/{table}") is not None:
                    if ivf_retire(spark, index_path, tomb, members_table=table):
                        return table
                return None

            followers = ("pq_codes", "sq_codes", "encode_log")
            names = run_jobs([partial(_retire_follower, t) for t in followers])
            retired += [name for name in names if name is not None]

    # The PQ and SQ stages read/rewrite DISJOINT table sets (pq_codes/
    # codebooks/encode_log watermark vs sq_codes/sq_stats; both only
    # READ assignments) and carry no relative-order contract, so they
    # run as two overlapped driver threads (guide §2.6) — the cheap SQ
    # audit rides along while the PQ Lloyd rounds dominate the tick.
    def _pq_stage() -> tuple[bool, int]:
        log = _read(f"{index_path}/encode_log")
        if (
            log is None
            or "batch_id" not in log.columns  # pq_quantization_error
            # emits (id, qerr) only — an unstamped log degrades to no
            # audit, never an aborted tick (the gate decisions guard)
            or _read(f"{index_path}/pq_codes") is None
        ):
            return False, 0
        wm_path = f"{index_path}/pq_retrain_watermark"
        flog = _watermark_filter(spark, log, wm_path)
        flagged = (
            pq_drift_audit(flog, drift_threshold=qerr_threshold)
            .filter("retrain")
            .limit(1)
            .count()
            > 0
        )
        if not flagged:
            return False, 0
        consumed = flog.agg(F.max("batch_id").alias("batch_id"))
        consumed = cut(consumed)
        moved = retrain_pq_index(
            spark, index_path, m=m, ksub=ksub, max_iter=max_iter, dim=dim
        )
        consumed.write.mode("overwrite").parquet(wm_path)
        return True, moved

    def _sq_stage() -> tuple[bool, int]:
        sq_codes = _read(f"{index_path}/sq_codes")
        sq_st = _read(f"{index_path}/sq_stats")
        if sq_codes is None or sq_st is None:
            return False, 0
        # level signal over current state: stamp one synthetic batch.
        # stats passed so constant dimensions (coded -128 forever by
        # construction) cannot flag a retrain the re-fit can't clear
        saturated = (
            sq_clamp_audit(
                sq_codes.withColumn("batch_id", F.lit(0)),
                clamp_threshold=clamp_threshold,
                stats=sq_st,
            )
            .filter("retrain")
            .limit(1)
            .count()
            > 0
        )
        if not saturated:
            return False, 0
        return True, retrain_sq_index(spark, index_path, dim=dim)

    (pq_retrained, pq_moved), (sq_retrained, sq_moved) = run_jobs(
        [_pq_stage, _sq_stage]
    )

    return {
        "retired": retired,
        "pq_retrained": pq_retrained,
        "pq_moved": pq_moved,
        "sq_retrained": sq_retrained,
        "sq_moved": sq_moved,
    }


def compressed_index_append(
    spark,
    index_path: str,
    batch,
    m: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
    members_table: str = "assignments",
) -> dict:
    """Day-2 INGEST for the persisted IVF-PQ/SQ layout — the append
    the compressed family was missing: the coarse family appends
    through :func:`~auraverse_etl_pipeline_spark.operators.similarity.
    ivf_assign` + the gates, but nothing composed the persisted write
    path for a compressed index (cells against yesterday's centroids,
    PQ codes + the qerr encode-log row against yesterday's codebooks,
    SQ codes against yesterday's stats — NO model refits ever, the
    ``ivf_assign`` day-2 contract; drift accumulates in the encode
    log until :func:`compressed_index_tick`'s audits fire).

    Idempotence is PER SURFACE: every table anti-joins the batch
    against its own existing ids before appending, so a crash at any
    point heals on the verbatim re-run — each surface appends only
    what it is still missing, and a replayed append is a no-op (the
    retire tier's converge-on-rerun posture, run backwards). Write
    order is code-tables-first / members-LAST, the mirror of the
    retire tier's members-first: the search path reaches rows through
    the members table, so inside the crash window a vector is either
    fully searchable or not yet visible — never a member whose ADC
    codes silently miss. Orphan code rows from a mid-window crash are
    unreachable (harmless) until the re-run writes their member row;
    :func:`compressed_index_fsck` counts them so the window is
    observable.

    Scale shape: the batch broadcasts into one semi-join probe per
    surface (id-pruned column scans, the ``log_retire`` probe
    discipline), assignment/encodes are the operators' own
    map-side-combined aggregates, and every cell-partitioned append
    is ``repartition("cell")``-clustered first (the open-writers
    rule). The assignment pass and ALL the surface probes fuse into
    ONE eagerly-checkpointed batch-sized frame (optimization r17:
    the per-surface spelling paid six eager ``localCheckpoint``
    lineage cuts at ~0.6 s each; one cut carries the same
    read-then-append safety because every downstream append plan
    derives from the checkpointed frame — plus the persisted scored
    table inside ``pq_encode_with_error`` — and never re-lists a
    path this call appends to). ``encode_log`` rows are stamped
    ``batch_id`` (default: max existing + 1) so the drift audit's
    trend and the retrain watermark keep working across appends.

    Returns ``{"appended", "pq_appended", "sq_appended",
    "batch_id"}`` (counts of rows actually written per family)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
        pq_encode_with_error,
        sq_encode,
    )

    _surfaces: dict = {}

    def _read(path):
        if path not in _surfaces:
            try:
                _surfaces[path] = spark.read.parquet(path)
            except AnalysisException:
                _surfaces[path] = None
        return _surfaces[path]

    cent = spark.read.parquet(f"{index_path}/centroids")
    books = _read(f"{index_path}/codebooks")
    sq_st = _read(f"{index_path}/sq_stats")

    b = batch.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    ids = F.broadcast(b.select("id").distinct())

    def _present_flag(table_path, flag):
        """(id, flag=true) for batch ids already on the surface — the
        same id-pruned broadcast semi-join probe per surface as the
        per-surface spelling, now assembled into one frame."""
        existing = _read(table_path)
        if existing is None:
            return None
        return (
            existing.join(ids, "id", "left_semi")
            .select("id")
            .distinct()
            .withColumn(flag, F.lit(True))
        )

    probes = []
    if books is not None:
        probes += [
            ("_in_pq", f"{index_path}/pq_codes"),
            ("_in_log", f"{index_path}/encode_log"),
        ]
    if sq_st is not None:
        probes += [("_in_sq", f"{index_path}/sq_codes")]
    probes += [("_in_members", f"{index_path}/{members_table}")]

    assigned = ivf_assign(b, cent, id_col="id", vec_col="v", clamp=True, dim=dim)
    assigned_cols = list(assigned.columns)
    enriched = assigned
    for flag, path in probes:
        p = _present_flag(path, flag)
        if p is None:
            enriched = enriched.withColumn(flag, F.lit(False))
        else:
            enriched = enriched.join(F.broadcast(p), "id", "left").withColumn(
                flag, F.coalesce(F.col(flag), F.lit(False))
            )
    # THE read-then-append lineage cut: one assignment pass + every
    # surface probe, materialized before the first write below
    enriched = cut(enriched)

    # ONE counting pass decides every surface's delta size (the four
    # per-surface count/limit(1) actions collapsed): the encoders emit
    # exactly m PQ-code rows / one log row / one SQ row / one member
    # row per id by construction, so the missing-flag sums ARE the
    # written-row counts the per-surface spelling materialized.
    flag_cols = [f for f, _ in probes]
    cnt = enriched.agg(
        *[F.sum((~F.col(f)).cast("bigint")).alias(f) for f in flag_cols]
    ).first()
    miss = {f: int(cnt[f] or 0) for f in flag_cols}

    def _append_cells(df, table_path):
        out = df.join(enriched.select("id", "cell"), "id")
        out.repartition("cell").write.mode("append").partitionBy(
            "cell"
        ).parquet(table_path)

    pq_appended = 0
    if books is not None:
        # codes and the encode log are SEPARATE surfaces with separate
        # missing sets (a crash between the two appends must heal the
        # log on re-run even though the codes are already present) —
        # but one shared scoring pass over their union
        if miss["_in_pq"] or miss["_in_log"]:
            union = enriched.filter(
                ~F.col("_in_pq") | ~F.col("_in_log")
            ).select("id", "v")
            codes, log, handle = pq_encode_with_error(
                union, books, m=m, dim=dim, id_col="id", vec_col="v"
            )
            if miss["_in_pq"]:
                _append_cells(
                    codes.join(
                        F.broadcast(
                            enriched.filter(~F.col("_in_pq")).select("id")
                        ),
                        "id",
                        "left_semi",
                    ),
                    f"{index_path}/pq_codes",
                )
                pq_appended = miss["_in_pq"] * int(m)
            if miss["_in_log"]:
                log_out = log.join(
                    F.broadcast(
                        enriched.filter(~F.col("_in_log")).select("id")
                    ),
                    "id",
                    "left_semi",
                )
                if batch_id is None:
                    enc = _read(f"{index_path}/encode_log")
                    prev = (
                        enc.agg(F.max("batch_id")).first()[0]
                        if enc is not None and "batch_id" in enc.columns
                        else None
                    )
                    batch_id = 0 if prev is None else int(prev) + 1
                log_out.withColumn(
                    "batch_id", F.lit(batch_id).cast("bigint")
                ).write.mode("append").parquet(f"{index_path}/encode_log")
            handle.unpersist()

    sq_appended = 0
    if sq_st is not None and miss["_in_sq"]:
        new_sq = enriched.filter(~F.col("_in_sq")).select("id", "v")
        _append_cells(
            sq_encode(new_sq, sq_st, dim=dim, id_col="id", vec_col="v"),
            f"{index_path}/sq_codes",
        )
        sq_appended = miss["_in_sq"]

    # members LAST: the crash window never shows a searchable member
    # whose code rows are missing
    appended = miss["_in_members"]
    if appended:
        members_tbl = _read(f"{index_path}/{members_table}")
        cols = members_tbl.columns if members_tbl is not None else assigned_cols
        delta = enriched.filter(~F.col("_in_members")).select(*cols)
        delta.repartition("cell").write.mode("append").partitionBy(
            "cell"
        ).parquet(f"{index_path}/{members_table}")
    return {
        "appended": appended,
        "pq_appended": pq_appended,
        "sq_appended": sq_appended,
        "batch_id": batch_id,
    }


def bm25_maintenance_tick(
    spark,
    index_path: str,
    segments_path: str | None = None,
    tombstones_path: str | None = None,
    dst_path: str | None = None,
) -> dict:
    """ONE cron-able maintenance tick for a persisted BM25 index — the
    LEXICAL family's composition, completing the tick symmetry
    (coarse: :func:`gate_maintenance_tick`, compressed:
    :func:`compressed_index_tick`): fold every pending segment under
    ``segments_path`` into the main index (Lucene's segment merge —
    each segment is a small ``Bm25Index.save`` layout written by an
    ingest job), apply a standing tombstone table in the SAME rewrite
    (retire riding along with compaction, the cost-sharing
    ``bm25_retire_path`` advertises: a BM25 rewrite is full-table
    either way), and rewrite once — ``save()``'s term-repartition IS
    the compaction, collapsing the segments' many small files into
    term-clustered ones.

    Short-circuit: when no segment holds a genuinely new doc id AND no
    tombstone id appears in the postings (two broadcast-probe
    ``limit(1)`` scans, the ``log_retire`` discipline), the tick
    deletes any fully-absorbed leftover segments and touches nothing
    else — a cron tick against a quiet index costs probes, not a
    rewrite.

    Idempotence / crash posture: segment merge is INDEX-WINS
    (``bm25_merge``'s anti-join — a re-merged segment's docs are
    already present, so its delta is empty), and the consumed segment
    directories are deleted only AFTER the main index write; a crash
    anywhere re-runs to the same state, costing at most one extra
    rewrite. The in-place triple write shares
    :func:`~auraverse_etl_pipeline_spark.operators.retire.
    bm25_retire_path`'s window (a crash between the three table writes
    leaves a df/postings mismatch until the re-run —
    :func:`~auraverse_etl_pipeline_spark.operators.retrieval.bm25_fsck`
    is the between-ticks check that sees it); ``dst_path`` is the
    production swap spelling that avoids it. In the ``dst_path``
    spelling the consumed segments are NOT deleted — the segments are
    only durable in ``dst``, which the caller may still discard instead
    of promoting, so segment cleanup belongs to the caller's
    post-promotion step (advice r16). Leaving them is safe either way:
    the next tick against the promoted index re-merges them as an
    index-wins no-op and (being in-place) clears them then.

    Returns ``{"merged_segments", "n_docs_before", "n_docs_after",
    "rewrote"}``."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from auraverse_etl_pipeline_spark.operators.retire import (
        _tomb_ids,
        bm25_retire,
    )
    from auraverse_etl_pipeline_spark.operators.retrieval import (
        Bm25Index,
        bm25_merge,
    )

    def _delete(path: str) -> None:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)

    def _segment_dirs() -> list:
        if segments_path is None:
            return []
        jpath = spark._jvm.org.apache.hadoop.fs.Path(segments_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return []
        out = []
        for status in fs.listStatus(jpath):
            if status.isDirectory():
                p = status.getPath()
                if fs.exists(p.suffix("/postings")):
                    out.append(p.toString())
        return sorted(out)

    idx = Bm25Index.load(spark, index_path)
    n_before = idx.stats.first().n_docs

    segments = _segment_dirs()
    merged = idx
    seg_postings = None
    for seg in segments:
        seg_idx = Bm25Index.load(spark, seg)
        merged = bm25_merge(merged, seg_idx)
        seg_postings = (
            seg_idx.postings
            if seg_postings is None
            else seg_postings.unionByName(seg_idx.postings)
        )

    tomb = None
    if tombstones_path is not None:
        try:
            tomb = spark.read.parquet(tombstones_path)
        except AnalysisException:
            tomb = None

    has_new = seg_postings is not None and (
        seg_postings.join(idx.postings.select("id"), "id", "left_anti")
        .limit(1)
        .count()
        > 0
    )
    has_hit = tomb is not None and (
        idx.postings.join(_tomb_ids(tomb, "id"), "id", "left_semi")
        .limit(1)
        .count()
        > 0
    )
    if not has_new and not has_hit and dst_path is None:
        # every segment doc is already absorbed — the leftovers are a
        # prior run's crash-window debris, safe to clear without a
        # rewrite
        for seg in segments:
            _delete(seg)
        return {
            "merged_segments": segments,
            "n_docs_before": n_before,
            "n_docs_after": n_before,
            "rewrote": False,
        }

    # retire against the MERGED index whenever a rewrite happens: a
    # tombstone can indict a doc that only exists in a pending segment
    # (the main-postings probe can't see it; when every segment id is
    # absorbed, the short-circuit's !has_new ⇒ such an id would hit
    # main too). Retiring a no-hit list is the identity.
    if tomb is not None and (has_hit or has_new):
        merged = bm25_retire(merged, tomb)
    out = dst_path or index_path
    if dst_path is None:
        merged = Bm25Index(
            postings=cut(merged.postings),
            dfs=cut(merged.dfs),
            stats=cut(merged.stats),
        )
    merged.save(out)
    if dst_path is None:
        for seg in segments:  # only after the main write (crash order)
            _delete(seg)
    n_after = spark.read.parquet(f"{out}/stats").first().n_docs
    return {
        "merged_segments": segments,
        "n_docs_before": n_before,
        "n_docs_after": n_after,
        "rewrote": True,
    }


def compressed_index_fsck(spark, index_path: str, m: int | None = None) -> DataFrame:
    """Integrity audit for the persisted IVF-PQ/SQ layout — the
    compressed-family member of the fsck family
    (:func:`gate_index_fsck` for the coarse gate index,
    :func:`~auraverse_etl_pipeline_spark.operators.retrieval.
    bm25_fsck` for the lexical index): ``(check, violations)`` rows,
    0 = healthy, for the cron that runs BETWEEN ticks. Every crash
    window in the append/retrain/retire machinery heals on re-run;
    this is the measurement that says whether anything is currently
    inside one.

    Checks:

    - ``member_without_pq_codes`` / ``member_without_sq_codes`` — a
      searchable member the compressed scan silently misses: the
      append crash window (codes-first means this is transient), or
      an ivf_retire that targeted the code table instead of members.
    - ``orphan_pq_codes`` / ``orphan_sq_codes`` — code rows whose id
      has no member: unreachable, harmless to queries, but the
      signature of a retire that skipped the followers (the re-fit
      would NOT resurrect them — codes re-derive from members — so
      they age out on the next retrain; counted so the operator
      knows).
    - ``pq_code_count_wrong`` — ids with ≠ m code rows (m from the
      codebooks table unless passed): a partial append/overwrite.
    - ``duplicate_pq_code_row`` — (id, sub) twice: a replayed append
      that bypassed the anti-join.
    - ``duplicate_sq_id`` — two byte arrays for one id.
    - ``pq_cell_disagrees_with_member`` / ``sq_cell_disagrees_with_member``
      — a follower row left in a different cell partition than its
      member (a rebalance that moved members without re-clustering
      followers): cell-pruned ADC scans miss it.
    - ``duplicate_codebook_entry`` — (sub, code) twice: every ADC
      LUT join double-counts that code.
    - ``encode_log_orphan`` — log rows indicting ids with no member
      (an erasure that ran ivf_retire but skipped the encode log —
      run log_retire with the same tombstones).

    Shape (optimization r17): ONE per-id ledger — one aggregate pass
    per present table (members / pq grouped (id, sub) then id / sq /
    encode-log ids), full-outer-joined on id — feeds a SINGLE final
    aggregate emitting every id-keyed tally at once; the codebook
    check rides the same 1-row frame as a broadcast cross join. The
    per-check spelling scanned pq_codes five times and sq_codes three
    times (one aggregation pipeline per check); every count is
    byte-identical (planted-corruption matrices + the sim_index_fsck
    oracle). Bounded by the index, never a corpus access, no window
    functions. One deliberate degradation change vs the per-check
    spelling: codes carrying a ``cell`` column against a members
    table WITHOUT one now reports the cell-disagreement check as 0
    (incomparable) instead of raising mid-plan."""
    from pyspark.errors.exceptions.captured import AnalysisException

    def _read(path):
        try:
            return spark.read.parquet(path)
        except AnalysisException:
            return None

    members = _read(f"{index_path}/assignments")
    if members is None:
        members = _read(f"{index_path}/members")
    pq = _read(f"{index_path}/pq_codes")
    sq = _read(f"{index_path}/sq_codes")
    books = _read(f"{index_path}/codebooks")
    enc = _read(f"{index_path}/encode_log")

    m_has_cell = members is not None and "cell" in members.columns
    pq_has_cell = pq is not None and "cell" in pq.columns
    sq_has_cell = sq is not None and "cell" in sq.columns

    # per-id ledgers: one pass per table
    leds = []
    if members is not None:
        m_led = members.groupBy("id").agg(
            *(
                [F.collect_set("cell").alias("_mcells")]
                if m_has_cell
                else []
            )
        ).withColumn("_m", F.lit(True))
        leds.append(m_led)
    if pq is not None:
        g1 = pq.groupBy("id", "sub").agg(
            F.count(F.lit(1)).alias("_c"),
            *([F.collect_set("cell").alias("_cells")] if pq_has_cell else []),
        )
        pq_led = g1.groupBy("id").agg(
            F.sum("_c").alias("_pq_rows"),
            F.sum((F.col("_c") > 1).cast("bigint")).alias("_pq_dupsubs"),
            *(
                [
                    F.array_distinct(F.flatten(F.collect_list("_cells"))).alias(
                        "_pqcells"
                    )
                ]
                if pq_has_cell
                else []
            ),
        ).withColumn("_pq", F.lit(True))
        leds.append(pq_led)
    if sq is not None:
        sq_led = sq.groupBy("id").agg(
            F.count(F.lit(1)).alias("_sq_rows"),
            *([F.collect_set("cell").alias("_sqcells")] if sq_has_cell else []),
        ).withColumn("_sq", F.lit(True))
        leds.append(sq_led)
    if enc is not None:
        leds.append(enc.select("id").distinct().withColumn("_e", F.lit(True)))

    led = None
    for piece in leds:
        led = piece if led is None else led.join(piece, "id", "full_outer")

    want_m = m
    if pq is not None and want_m is None and books is not None:
        max_sub = books.agg(F.max("sub")).first()[0]
        # present-but-EMPTY codebooks (the degenerate surface an fsck
        # exists to diagnose) yields a None max — unknown m, degrade
        # to skipping the count check rather than crashing the checker
        # itself (the _watermark_filter discipline)
        want_m = None if max_sub is None else max_sub + 1

    def _n(cond):
        return F.count(F.when(cond, True)).cast("bigint")

    zero = F.lit(0).cast("bigint")
    tallies: dict[str, F.Column] = {}
    has = lambda c: led is not None and c in led.columns  # noqa: E731
    both_m = has("_m")
    if pq is not None and both_m:
        tallies["member_without_pq_codes"] = _n(
            F.col("_m") & F.col("_pq").isNull()
        )
        tallies["orphan_pq_codes"] = _n(F.col("_pq") & F.col("_m").isNull())
    if pq_has_cell and m_has_cell:
        tallies["pq_cell_disagrees_with_member"] = _n(
            F.col("_pq")
            & F.col("_m")
            & (F.size(F.array_union("_pqcells", "_mcells")) > 1)
        )
    if sq is not None and both_m:
        tallies["member_without_sq_codes"] = _n(
            F.col("_m") & F.col("_sq").isNull()
        )
        tallies["orphan_sq_codes"] = _n(F.col("_sq") & F.col("_m").isNull())
    if sq_has_cell and m_has_cell:
        tallies["sq_cell_disagrees_with_member"] = _n(
            F.col("_sq")
            & F.col("_m")
            & (F.size(F.array_union("_sqcells", "_mcells")) > 1)
        )
    if pq is not None and want_m is not None:
        tallies["pq_code_count_wrong"] = _n(
            F.col("_pq") & (F.col("_pq_rows") != int(want_m))
        )
    if pq is not None:
        tallies["duplicate_pq_code_row"] = F.coalesce(
            F.sum("_pq_dupsubs"), F.lit(0)
        ).cast("bigint")
    if sq is not None:
        tallies["duplicate_sq_id"] = _n(F.col("_sq_rows") > 1)
    if enc is not None and both_m:
        tallies["encode_log_orphan"] = _n(F.col("_e") & F.col("_m").isNull())

    base = (
        led.agg(*[col.alias(f"_t{i}") for i, (_, col) in enumerate(tallies.items())])
        if led is not None and tallies
        else spark.range(1).select(F.lit(0).alias("_pad"))
    )

    names = list(tallies)
    # the id-keyed checks, in the per-check spelling's output order;
    # the codebook check (a different table) rides as its own unioned
    # 1-row branch below — a join of the two 1-row frames would plan
    # as a BroadcastNestedLoopJoin and bust the composed
    # sim_index_fsck plan's pinned BNLJ budget
    order = [
        "member_without_pq_codes",
        "orphan_pq_codes",
        "pq_cell_disagrees_with_member",
        "member_without_sq_codes",
        "orphan_sq_codes",
        "sq_cell_disagrees_with_member",
        "pq_code_count_wrong",
        "duplicate_pq_code_row",
        "duplicate_sq_id",
        "encode_log_orphan",
    ]
    cols = []
    for name in order:
        val = F.col(f"_t{names.index(name)}") if name in tallies else zero
        cols += [F.lit(name), val.cast("bigint")]
    out = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        cols[i].alias("check"), cols[i + 1].alias("violations")
                    )
                    for i in range(0, len(cols), 2)
                ]
            )
        ).alias("_r")
    ).select("_r.check", "_r.violations")
    if books is not None:
        dup_books = (
            books.groupBy("sub", "code")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(_n(F.col("_c") > 1).cast("bigint").alias("violations"))
            .select(F.lit("duplicate_codebook_entry").alias("check"), "violations")
        )
    else:
        dup_books = spark.range(1).select(
            F.lit("duplicate_codebook_entry").alias("check"),
            zero.alias("violations"),
        )
    return out.unionByName(dup_books)


def rebalance_gate_index(
    spark,
    index_path: str,
    max_cell_size: int,
    dim: int | None = None,
) -> list[int]:
    """Between-batches maintenance for the SemDeDup gate's index — the
    operational loop :func:`run_stream_semdedup_gate` documents (gate
    batches, rebalance the persisted index when cells run hot, gate
    more batches) as one callable: load ``{index_path}/centroids`` +
    ``/members``, split every cell above ``max_cell_size`` with the
    deterministic :func:`~auraverse_etl_pipeline_spark.operators.
    similarity.ivf_rebalance` (no RNG, no refit of cold cells), and
    rewrite ONLY the affected partitions. Fire it when
    :func:`~auraverse_etl_pipeline_spark.operators.similarity.
    ivf_occupancy`'s over-cap list is non-empty.

    Members are never dropped or retracted — every accepted id
    survives with its vector; only the (cell, centroid_cos) labels of
    HOT-cell members change, so anything searchable before the
    rebalance stays searchable after (pinned in tests). Decisions are
    untouched: verdicts record history, not layout.

    Scale shape: cold cells' partition directories are NEVER rewritten
    (dynamic partition overwrite writes just the split cells' old ids
    + the appended new ids); the rewrite reads the very partitions it
    replaces, so both deltas are eagerly ``localCheckpoint``-ed before
    the first write (the read-then-overwrite lineage cut pinned in
    tests/test_streaming.py). Centroids (nlist rows, model-sized) are
    rewritten whole.

    Crash-recovery posture: the two writes (members partitions,
    centroids) cannot be one atomic commit on a filesystem, so the
    commit is STAGED — the full new centroid table lands at
    ``{index_path}/centroids_pending`` first (a write-ahead marker),
    then the members delta, then centroids, then the marker is
    removed. Every crash window is recoverable on the NEXT call: a
    leftover marker whose staged-only cells have members (or whose
    live centroid table is missing — the destructive-overwrite
    window) means the members write committed, so the marker is
    promoted; a marker with no such members means the crash preceded
    the members write and the pre-rebalance state is still live, so
    the marker is discarded. Either way no member is ever dropped,
    and no stale empty centroid survives a recovery — between the
    crash and the healing call, moved members are temporarily
    unsearchable (old centroids, new cells), which the next
    maintenance tick repairs.

    Returns the list of cell ids that were split (empty = no-op)."""
    from auraverse_etl_pipeline_spark.operators.similarity import (
        IvfIndex,
        cosine_similarity_expr,
        ivf_rebalance,
    )

    from pyspark.errors.exceptions.captured import AnalysisException

    cent_path = f"{index_path}/centroids"
    pending_path = f"{index_path}/centroids_pending"

    def _read(path: str) -> DataFrame | None:
        try:
            return spark.read.parquet(path)
        except AnalysisException:
            return None

    def _delete(path: str) -> None:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)

    # --- recovery: finish or discard a prior run's staged commit ---
    pending = _read(pending_path)
    if pending is not None:
        live = _read(cent_path)
        live_members = _read(f"{index_path}/members")
        if live is None:
            promote = True  # centroids destroyed mid-overwrite
        else:
            staged_only = pending.join(
                live.select("cell"), "cell", "left_anti"
            ).select("cell")
            promote = (
                live_members is not None
                and live_members.join(staged_only, "cell", "left_semi")
                .limit(1)
                .count()
                > 0
            )  # members already carry staged cells -> members write committed
        if promote:
            cut(pending).write.mode("overwrite").parquet(
                cent_path
            )
        _delete(pending_path)

    cent = spark.read.parquet(cent_path)
    try:
        members = spark.read.parquet(f"{index_path}/members")
    except AnalysisException:
        return []  # fresh gate: centroids only, nothing to rebalance yet
    sizes = members.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    hot = [r.cell for r in sizes.filter(F.col("n") > max_cell_size).collect()]
    if not hot:  # model-sized collect: one row per over-cap cell
        return hot
    old = IvfIndex(centroids=cent, assignments=members.select("id", "v", "cell"))
    new = ivf_rebalance(old, max_cell_size=max_cell_size, dim=dim)
    # only HOT-cell members moved; their new (cell, centroid_cos) labels
    # come from the split sub-centroids (clamped — sub-centroids ARE
    # member vectors, the CLAUDE.md clamp rule)
    moved_ids = members.filter(F.col("cell").isin(hot)).select("id")
    delta = (
        new.assignments.join(moved_ids, "id")
        .join(F.broadcast(new.centroids), "cell")
        .select(
            "id",
            "v",
            "cell",
            F.least(
                F.lit(1.0), cosine_similarity_expr("v", "centroid", dim=dim)
            ).alias("centroid_cos"),
        )
    )
    new_cent = cut(new.centroids)
    # cluster the delta by its partition column BEFORE the partitioned
    # write: without this every task holds an open writer per cell it
    # touches (tasks × cells parquet buffers — measured as a heap OOM
    # at 160k members × 64 cells on a 1g driver), and the output is
    # cells × tasks small files; repartition("cell") makes it one
    # writer per cell per task and ~one file per cell (the same rule
    # compact_parquet spells with target_partitions + partition_by)
    delta = cut(delta.repartition("cell"))
    handle = getattr(new.assignments, "release_caches", None)
    if callable(handle):
        handle()
    # staged commit (see crash-recovery posture above): marker first,
    # members second, live centroids third, marker removal last
    new_cent.write.mode("overwrite").parquet(pending_path)
    (
        delta.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(f"{index_path}/members")
    )
    new_cent.write.mode("overwrite").parquet(cent_path)
    _delete(pending_path)
    return hot


def index_suite_tick(
    spark,
    gate_path: str | None = None,
    compressed_path: str | None = None,
    bm25_path: str | None = None,
    tombstones_path: str | None = None,
    gate_opts: dict | None = None,
    compressed_opts: dict | None = None,
    bm25_opts: dict | None = None,
) -> dict:
    """ONE cron entry point for the whole index estate — the
    maintenance mirror of :func:`~auraverse_etl_pipeline_spark.
    operators.retire.retire_ids_everywhere`: run every family's
    maintenance tick (:func:`gate_maintenance_tick`,
    :func:`compressed_index_tick`, :func:`bm25_maintenance_tick`) over
    whichever roots exist, sharing one standing tombstone table, and
    report per family. The families are deliberately independent —
    they share only the (read-only) tombstones, so ordering carries no
    semantics; the fixed gate → compressed → bm25 order here is for
    stable reporting.

    A ``None`` path is "this deployment has no such family"; a given
    path whose anchor table is absent (gate ``centroids``, compressed
    ``assignments``, bm25 ``postings``) reports ``"skipped"`` — probed
    with AnalysisException ONLY (the r15 guard rule: a
    present-but-corrupt table must propagate, never read as absent —
    that is what the fscks are for). ``*_opts`` pass through to the
    family tick verbatim; ``gate_opts`` MUST carry ``max_cell_size``
    when ``gate_path`` is set (no silent default — a wrong cap fires
    spurious rebalances, so the caller owns that number).

    Quietness composes: each family tick already short-circuits to its
    own cheap probes when there is nothing to do, so a quiet estate
    tick costs a handful of limit(1)/watermark reads across the three
    roots and rewrites nothing."""
    from pyspark.errors.exceptions.captured import AnalysisException

    def _present(anchor: str) -> bool:
        try:
            spark.read.parquet(anchor)
            return True
        except AnalysisException:
            return False

    report: dict = {}
    if gate_path is not None:
        opts = dict(gate_opts or {})
        if "max_cell_size" not in opts:
            # no silent default: a wrong cap fires spurious
            # rebalances, so the caller must own this number — and
            # the check fires BEFORE the existence probe, so a
            # misconfigured cron fails at deploy time, not days later
            # when the gate root first appears
            raise ValueError(
                "index_suite_tick: gate_opts must carry"
                " max_cell_size when gate_path is set"
            )
        if _present(f"{gate_path}/centroids"):
            report["gate"] = gate_maintenance_tick(
                spark, gate_path, tombstones_path=tombstones_path, **opts
            )
        else:
            report["gate"] = "skipped"
    if compressed_path is not None:
        if _present(f"{compressed_path}/assignments"):
            report["compressed"] = compressed_index_tick(
                spark,
                compressed_path,
                tombstones_path=tombstones_path,
                **(compressed_opts or {}),
            )
        else:
            report["compressed"] = "skipped"
    if bm25_path is not None:
        if _present(f"{bm25_path}/postings"):
            report["bm25"] = bm25_maintenance_tick(
                spark,
                bm25_path,
                tombstones_path=tombstones_path,
                **(bm25_opts or {}),
            )
        else:
            report["bm25"] = "skipped"
    return report
