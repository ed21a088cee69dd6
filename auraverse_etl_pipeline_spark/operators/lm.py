"""In-engine n-gram language-model perplexity scoring.

The CCNet / KenLM-style fluency gate every web-curation pipeline runs:
train a small LM on a trusted reference slice (Wikipedia in CCNet),
score every candidate document by token-level cross-entropy, and gate
or bucket on the score — fluent text scores low, boilerplate, gibberish
and wrong-language text score high. The reference uses 5-gram KenLM
models; the in-engine twin is a bigram model with add-α smoothing,
which keeps the model VOCABULARY-BOUNDED (observed bigrams + per-token
context counts), trains in one aggregation pass, and — unlike a KenLM
binary — is exactly replayable by a SQL oracle.

Scale shape mirrors ``operators/classifier.py``: the 100 TB corpus is
scanned once and exploded into fixed-width (prev, tok) transition rows
(array slicing, no shuffle, no window); the model is two broadcast
tables (observed bigrams, context counts); the per-document sum runs
through order-independent DECIMAL(38,12) partials. All logarithms are
computed in an Arrow batch with Python libm over MODEL-sized tables
only — JVM ``Math.log`` disagrees with DuckDB ``ln`` in the last ulp
on ~2% of inputs (measured; see classifier.py module docstring).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from auraverse_etl_pipeline_spark.operators.caching import cut, release_after
from auraverse_etl_pipeline_spark.operators.classifier import _ln
from auraverse_etl_pipeline_spark.runtime import ship_package


#: Default fluency ceiling (nats/token against the trusted-slice bigram
#: LM). Sits between the fixture-corpus median (~3.45) and max (~3.72),
#: so gates using it are non-trivially selective; CCNet keeps the
#: head/middle of the perplexity distribution the same way.
LM_XENT_MAX = 3.5


@dataclass
class BigramLm:
    """A trained n-gram LM (bigram base, optional trigram head), all
    plain data (persist like any table):

    - ``bigrams`` — (prev, tok, logp): add-α log probability of every
      OBSERVED reference bigram.
    - ``contexts`` — (prev, logp_miss): per observed context token, the
      log probability of any UNOBSERVED continuation,
      ``ln(α / (c(prev) + α·V))``.
    - ``stats`` — one row (vocab_size, logp_unseen): ``V`` = distinct
      reference tokens, and the both-unseen fallback
      ``ln(α / (α·V))`` (the c(prev)=0 case of the same formula).
    - ``trigrams`` / ``contexts3`` (``order=3`` only) — the same two
      tables one order up: (p2, prev, tok, logp3) for observed
      reference trigrams and (p2, prev, logp_miss3) per observed
      2-token context. Scoring BACKS OFF: an unobserved 2-token
      context falls through to the bigram tables (the coalesce chain
      logp3 → logp_miss3 → logp → logp_miss → logp_unseen), the
      KenLM-shaped recursion that keeps the model vocabulary-bounded
      at every order.
    """

    bigrams: DataFrame
    contexts: DataFrame
    stats: DataFrame
    trigrams: DataFrame | None = None
    contexts3: DataFrame | None = None
    #: Optional PRE-MATERIALIZED fused scoring frames (optimization
    #: r18): the per-order (context → continuations map, miss mass)
    #: frames :func:`ngram_lm_score` otherwise derives lazily per
    #: call. A long-lived scorer — the streaming LM gate scores every
    #: micro-batch against one frozen model — sets them once via
    #: :func:`prepare_scoring_frames` so the model-table aggregates
    #: run once per stream instead of once per batch. One-shot
    #: scorers leave them None (the lazy build folds into their one
    #: action; an eager cut would only add jobs).
    fused2: DataFrame | None = None
    fused3: DataFrame | None = None


def _transitions(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """(id, prev, tok) — one row per within-document token transition,
    via array slicing (zip of the token array against itself shifted by
    one): pure per-row expression work, no shuffle, no window. A
    document with fewer than two tokens contributes a single null
    transition row (``explode_outer``), so every id reaches the
    downstream aggregate — the ``nb_score`` discipline."""
    from auraverse_etl_pipeline_spark.functions.text import tokens

    id_expr = F.col(id_col) if id_col is not None else F.lit(0).cast("bigint")
    return (
        df.select(id_expr.alias("id"), tokens(text_col).alias("toks"))
        .select(
            "id",
            F.explode_outer(
                F.expr(
                    "arrays_zip("
                    "  slice(toks, 1, greatest(size(toks) - 1, 0)),"
                    "  slice(toks, 2, greatest(size(toks) - 1, 0)))"
                )
            ).alias("tr"),
        )
        .select("id", F.col("tr.0").alias("prev"), F.col("tr.1").alias("tok"))
    )


def _transitions3(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """(id, p2, prev, tok) — one row per within-document transition,
    with ``p2`` the token TWO back (null at the second position, where
    only the bigram context exists — the backoff boundary). Same
    array-slicing shape as :func:`_transitions`: the p2 column is the
    prev-slice shifted once more with a null prepended, so every
    document still contributes exactly ``max(n-1, 0)`` scored rows
    (plus the explode_outer null row for <2-token documents)."""
    from auraverse_etl_pipeline_spark.functions.text import tokens

    id_expr = F.col(id_col) if id_col is not None else F.lit(0).cast("bigint")
    return (
        df.select(id_expr.alias("id"), tokens(text_col).alias("toks"))
        .select(
            "id",
            F.explode_outer(
                F.expr(
                    "arrays_zip("
                    "  concat(array(CAST(NULL AS STRING)),"
                    "         slice(toks, 1, greatest(size(toks) - 2, 0))),"
                    "  slice(toks, 1, greatest(size(toks) - 1, 0)),"
                    "  slice(toks, 2, greatest(size(toks) - 1, 0)))"
                )
            ).alias("tr"),
        )
        .select(
            "id",
            F.col("tr.0").alias("p2"),
            F.col("tr.1").alias("prev"),
            F.col("tr.2").alias("tok"),
        )
    )


def ngram_lm_train(
    ref: DataFrame, alpha: float = 1.0, text_col: str = "text", order: int = 2
) -> BigramLm:
    """One-pass n-gram LM training over the reference corpus.

    ``logp(tok | prev) = ln((c(prev,tok) + α) / (c(prev) + α·V))`` with
    ``V`` = distinct reference tokens. The model is observed-bigram-
    bounded: two aggregates (bigram counts, context counts) and a
    1-row vocabulary stat; no corpus-sized state survives training.
    Every log runs through the Arrow-batched libm ``_ln`` over the
    model tables, never the corpus.

    ``order=3`` additionally trains the trigram head — the same add-α
    formula one order up, ``ln((c(p2,prev,tok) + α) / (c(p2,prev) +
    α·V))``, from one more pair of aggregates over the SAME reference
    scan shape. The model stays vocabulary-bounded (observed trigrams
    + observed 2-token contexts); scoring backs off to the bigram
    tables for unobserved contexts (see :class:`BigramLm`)."""
    if order not in (2, 3):
        raise ValueError(f"order must be 2 or 3, got {order}")
    ship_package(ref.sparkSession)  # _ln is pickled by reference
    tr = _transitions(ref, text_col, None).where(F.col("prev").isNotNull())
    from auraverse_etl_pipeline_spark.functions.text import tokens

    toks = ref.select(F.explode(tokens(text_col)).alias("tok"))
    # vocab is one row but its plan embeds a corpus-sized token explode
    # + distinct — and every model table (bigrams, contexts, stats,
    # plus the trigram pair at order=3) crossJoins it, so uncached the
    # reference is token-scanned once PER TABLE materialization.
    # Released through the bigrams frame's chained handle, like big.
    vocab = toks.agg(F.count_distinct("tok").cast("bigint").alias("v")).cache()
    # the bigram-count aggregate embeds the corpus-sized transition
    # explode; it feeds the bigrams plan TWICE (directly + via ctx) and
    # the contexts plan once — cache it or the model build scans the
    # reference ~3×. Released through the bigrams frame's handle
    # (release_after chains, so lm_score_report's release reaches it).
    big = (
        tr.groupBy("prev", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .cache()
    )
    ctx = big.groupBy("prev").agg(F.sum("c").cast("bigint").alias("c_prev"))
    a = F.lit(float(alpha))
    bigrams = release_after(
        big.join(ctx, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "prev",
            "tok",
            _ln((F.col("c") + a) / (F.col("c_prev") + a * F.col("v"))).alias("logp"),
        ),
        big,
        vocab,
    )
    contexts = (
        ctx.crossJoin(F.broadcast(vocab))
        .select(
            "prev",
            _ln(a / (F.col("c_prev") + a * F.col("v"))).alias("logp_miss"),
        )
    )
    stats = vocab.select(
        F.col("v").alias("vocab_size"),
        _ln(a / (F.lit(0).cast("bigint") + a * F.col("v"))).alias("logp_unseen"),
    )
    if order == 2:
        return BigramLm(bigrams=bigrams, contexts=contexts, stats=stats)

    tr3 = _transitions3(ref, text_col, None).where(F.col("p2").isNotNull())
    big3 = (
        tr3.groupBy("p2", "prev", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .cache()
    )
    ctx3 = big3.groupBy("p2", "prev").agg(F.sum("c").cast("bigint").alias("c_ctx"))
    trigrams = release_after(
        big3.join(ctx3, ["p2", "prev"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "p2",
            "prev",
            "tok",
            _ln((F.col("c") + a) / (F.col("c_ctx") + a * F.col("v"))).alias("logp3"),
        ),
        big3,
    )
    contexts3 = ctx3.crossJoin(F.broadcast(vocab)).select(
        "p2",
        "prev",
        _ln(a / (F.col("c_ctx") + a * F.col("v"))).alias("logp_miss3"),
    )
    return BigramLm(
        bigrams=bigrams,
        contexts=contexts,
        stats=stats,
        trigrams=trigrams,
        contexts3=contexts3,
    )


def _fused_scoring_frames(lm: BigramLm) -> tuple[DataFrame, DataFrame | None]:
    """Build the per-order fused scoring frames ngram_lm_score probes
    — factored out so :func:`prepare_scoring_frames` can materialize
    them ONCE for long-lived scorers (the streaming LM gate)."""
    # Fused model broadcasts (optimization r18): the per-order pair of
    # model tables — (observed n-grams, observed contexts) — collapses
    # into ONE broadcast frame keyed by the context, carrying the
    # continuations as a tok→logp map next to the context's miss mass.
    # Scoring then probes TWO broadcasts instead of four, and each
    # broadcast build is one job chain instead of two (the n-gram and
    # context tables share their cached count base, so fusing them
    # into one frame halves the model-side materializations). The map
    # values are the *same* ``_ln`` doubles, moved — not recomputed —
    # so scores are bit-identical; ``try_element_at`` returns null on
    # a missing continuation exactly where the old left join produced
    # a null ``logp``/``logp3`` (ANSI-safe: plain element_at throws on
    # missing map keys under Spark 4's default ANSI mode). The fuse is
    # spelled as a UNION + one aggregate, never a full-outer join: a
    # full outer cannot broadcast, so Spark plans it as a sort-merge
    # join — model-sized here, but it put the only SortMergeJoin into
    # every LM-scoring plan (the test_plans guard caught it). The
    # union keeps full-outer semantics — a context with no observed
    # n-gram row aggregates to an empty map, an n-gram row with no
    # context row (impossible for a train()-built model, cheap
    # insurance for a pruned one) to a null miss mass (collect_list
    # skips the null entry structs; max over the at-most-one non-null
    # miss mass recovers it) — in ONE exchange instead of three.
    m2 = (
        lm.bigrams.select(
            "prev",
            F.struct("tok", "logp").alias("_e"),
            F.lit(None).cast("double").alias("logp_miss"),
        )
        .unionByName(
            lm.contexts.select(
                "prev",
                F.lit(None).cast("struct<tok:string,logp:double>").alias("_e"),
                "logp_miss",
            )
        )
        .groupBy("prev")
        .agg(
            F.map_from_entries(F.collect_list("_e")).alias("_m2"),
            F.max("logp_miss").alias("logp_miss"),
        )
    )
    m3 = None
    if lm.trigrams is not None:
        m3 = (
            lm.trigrams.select(
                "p2",
                "prev",
                F.struct("tok", "logp3").alias("_e3"),
                F.lit(None).cast("double").alias("logp_miss3"),
            )
            .unionByName(
                lm.contexts3.select(
                    "p2",
                    "prev",
                    F.lit(None)
                    .cast("struct<tok:string,logp3:double>")
                    .alias("_e3"),
                    "logp_miss3",
                )
            )
            .groupBy("p2", "prev")
            .agg(
                F.map_from_entries(F.collect_list("_e3")).alias("_m3"),
                F.max("logp_miss3").alias("logp_miss3"),
            )
        )
    return m2, m3


def prepare_scoring_frames(lm: BigramLm) -> BigramLm:
    """Materialize the fused scoring frames ONCE (eager :func:`~
    auraverse_etl_pipeline_spark.operators.caching.cut`) and
    return a BigramLm carrying them. For scorers that call
    :func:`ngram_lm_score` repeatedly against one frozen model (the
    streaming gate's per-micro-batch scoring), the model-table
    aggregates then run once per stream instead of once per batch.
    One-shot scorers should NOT call this: the lazy build folds into
    their single action, and the eager cut would only add jobs."""
    m2, m3 = _fused_scoring_frames(lm)
    return BigramLm(
        bigrams=lm.bigrams,
        contexts=lm.contexts,
        stats=lm.stats,
        trigrams=lm.trigrams,
        contexts3=lm.contexts3,
        fused2=cut(m2),
        fused3=cut(m3) if m3 is not None else None,
    )


def ngram_lm_score(
    df: DataFrame,
    lm: BigramLm,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a :class:`BigramLm`:
    ``(id, n_transitions, xent)`` where ``xent`` is the per-transition
    cross-entropy ``−(Σ logp) / n`` (nats/token; null for documents
    with fewer than two tokens — nothing to score, surfaced as null
    rather than guessed at). Lower = more reference-like; the CCNet
    gate keeps the low/middle buckets.

    When the model carries a trigram head (``lm.trigrams`` is not
    None), every transition scores through the KenLM-shaped backoff
    chain ``logp3 → logp_miss3 → logp → logp_miss → logp_unseen``: an
    observed trigram wins; an observed 2-token context with an unseen
    continuation pays the trigram miss mass; an UNOBSERVED 2-token
    context (including the document's second token, where ``p2`` is
    null by construction) falls through to the bigram tables. All
    model state stays observed-n-gram-bounded, fused into ONE
    broadcast frame per order (see the inline note below), so every
    join is still a broadcast.

    Scale shape: one fused model broadcast per order, the corpus
    explodes once into fixed-width transition rows, one
    DECIMAL-partial hash aggregate per document — the corpus never
    shuffles its text."""
    ship_package(df.sparkSession)
    # Fused model frames: prebuilt (prepare_scoring_frames) or lazy
    if lm.fused2 is not None and (lm.trigrams is None or lm.fused3 is not None):
        m2, m3 = lm.fused2, lm.fused3
    else:
        m2, m3 = _fused_scoring_frames(lm)
    if lm.trigrams is not None:
        tr = _transitions3(df, text_col, id_col)
        logp = F.coalesce(
            F.try_element_at("_m3", F.col("tok")),
            F.col("logp_miss3"),
            F.try_element_at("_m2", F.col("tok")),
            F.col("logp_miss"),
            F.col("logp_unseen"),
        )
        scored = (
            tr.join(F.broadcast(m3), ["p2", "prev"], "left")
            .join(F.broadcast(m2), "prev", "left")
            .crossJoin(F.broadcast(lm.stats.select("logp_unseen")))
            .select(
                "id",
                F.when(F.col("prev").isNotNull(), logp).alias("logp"),
            )
        )
        return scored.groupBy("id").agg(
            F.count("logp").cast("bigint").alias("n_transitions"),
            F.when(
                F.count("logp") > 0,
                -F.sum(F.col("logp").cast("decimal(38,12)")).cast("double")
                / F.count("logp"),
            ).alias("xent"),
        )
    tr = _transitions(df, text_col, id_col)
    logp = F.coalesce(
        F.try_element_at("_m2", F.col("tok")),
        F.col("logp_miss"),
        F.col("logp_unseen"),
    )
    scored = (
        tr.join(F.broadcast(m2), "prev", "left")
        .crossJoin(F.broadcast(lm.stats.select("logp_unseen")))
        .select(
            "id",
            F.when(F.col("prev").isNotNull(), logp).alias("logp"),
        )
    )
    return scored.groupBy("id").agg(
        F.count("logp").cast("bigint").alias("n_transitions"),
        F.when(
            F.count("logp") > 0,
            -F.sum(F.col("logp").cast("decimal(38,12)")).cast("double")
            / F.count("logp"),
        ).alias("xent"),
    )


def perplexity_buckets(
    scores: DataFrame, n_buckets: int = 3, method: str = "ntile"
) -> DataFrame:
    """CCNet's head/middle/tail split: cut documents into ``n_buckets``
    frequency buckets by cross-entropy (bucket 0 = most
    reference-like). Documents with null xent (< 2 tokens) land in the
    LAST bucket (unknowable ≠ fluent).

    ``method``:

    - ``"ntile"`` (default, the oracle-gated spelling) — exact
      equal-frequency split via one global sort. ntile is a total
      order by design (bucket ids must be globally consistent), so
      this is the small/audit spelling.
    - ``"percentile"`` — the 100 TB spelling: derive the ``n−1``
      boundary values with one bounded-memory ``percentile_approx``
      aggregate (mergeable partials, no global sort), broadcast the
      1-row boundary frame, and bucket every row by comparison — a
      pure map stage over the corpus. Bucket POPULATIONS are then
      approximate near boundaries (the q46 1%-error contract), which
      is what every production quantile-bucket job accepts."""
    from pyspark.sql import Window

    if method == "ntile":
        w = Window.orderBy(F.col("xent").isNull().cast("int"), "xent", "id")
        return scores.select(
            "id",
            "xent",
            (F.ntile(n_buckets).over(w) - 1).cast("int").alias("bucket"),
        )
    if method != "percentile":
        raise ValueError(f"unknown method {method!r}; use 'ntile' or 'percentile'")
    pcts = F.array(
        *[F.lit(i / n_buckets) for i in range(1, n_buckets)]
    )
    bounds = scores.agg(
        F.percentile_approx("xent", pcts, F.lit(10000)).alias("bounds")
    )
    # bucket = number of boundaries strictly below this xent; nulls last
    return scores.crossJoin(F.broadcast(bounds)).select(
        "id",
        "xent",
        F.when(F.col("xent").isNull(), F.lit(n_buckets - 1))
        .otherwise(
            F.size(F.filter("bounds", lambda b: b < F.col("xent"))).cast("int")
        )
        .cast("int")
        .alias("bucket"),
    )


def lm_score_report(
    df: DataFrame,
    ref: DataFrame,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: int = 2,
) -> DataFrame:
    """Train on ``ref``, score ``df`` — the one-call spelling.
    ``order=3`` trains and scores through the trigram backoff head.

    Since the r18 fused-model scoring, each raw model table is
    consumed exactly ONCE (inside its order's fused broadcast build),
    so re-caching the five tables here would only add a materialization
    pass; the caches that bound recompute — the n-gram count bases and
    the vocabulary stat inside :func:`ngram_lm_train` — are reached
    through the chained release handles on ``bigrams``/``trigrams``."""
    lm = ngram_lm_train(ref, alpha=alpha, text_col=text_col, order=order)
    out = ngram_lm_score(df, lm, text_col=text_col, id_col=id_col)
    handles = [lm.bigrams]
    if lm.trigrams is not None:
        handles.append(lm.trigrams)
    return release_after(out, *handles)
