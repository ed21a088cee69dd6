"""In-engine unigram-LM (SentencePiece-style) tokenizer training and
encoding — the second tokenizer family next to BPE (``operators/
bpe.py``), and the default for most modern LLM vocabularies (T5,
Llama, Gemma ship unigram models).

Kudo (2018) trains the piece inventory by EM over a segmentation
lattice then prunes to a target vocabulary. This implementation is the
deterministic HARD-EM (Viterbi-EM) variant — the E-step segments every
vocabulary word with the current model by max-score dynamic
programming instead of forward–backward expectations — because every
arithmetic step is then engine-portable: DP scores are plain IEEE
double additions in a FIXED association order (no logsumexp, no
order-dependent float sums), counts are exact integer aggregates, and
the only transcendental is ``ln`` over model-sized tables through the
Python-libm pandas_udf (bit-identical to DuckDB's ``ln``; JVM
``Math.log`` is NOT — see operators/classifier.py). SentencePiece
itself ships Viterbi-EM as a supported trainer mode.

Scale shape (the BPE discipline, ``bpe.py`` module docstring): ONE
corpus scan builds the (word, freq) vocabulary; every later table —
seed pieces, DP position states, usage counts, the model — is
vocabulary- or model-bounded, never corpus-bounded. Per EM round the
Viterbi DP is ``max_word_len`` rounds of (vocabulary-sized rows ×
broadcast model) joins + one max_by aggregate each; lineage is cut per
round with an eager ``cut`` on the model-sized state.
Encoding re-runs the same DP once and re-joins per-word segmentations
to the token stream (corpus-sized, but fixed-width rows — the text
itself never shuffles).

Determinism/parity: DP ties break on (score DESC, split-point j DESC)
— reproducible in any engine; the DuckDB oracle replays seed counts,
every EM round and the final encode digit-for-digit from an unrolled
CTE chain generated from the same round template. Words longer than
``max_word_len`` are EXCLUDED from training and encoding (documented
cap — SentencePiece's own trainer caps sentence/word lengths); the
synthetic corpus' longest word is 8 chars, so nothing is excluded at
any test SF. Character splitting is per CODEPOINT on both engines
(the retired-ASCII-guard probe pinned in operators/bpe.py and
tests/test_operators.py — non-BMP and combining-mark inputs segment
identically), so the char-level tiers hash-compare on any codepoint
corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from auraverse_etl_pipeline_spark.operators.caching import cut, release_after
from auraverse_etl_pipeline_spark.operators.classifier import _ln
from auraverse_etl_pipeline_spark.runtime import ship_package

#: Fixed point for order-independent per-document logp sums on the
#: encode path (the classifier discipline: floor(v·2^40) summed as
#: exact integers, one division by the caller if a float is wanted).
UNIGRAM_FIXED_POINT = 1099511627776.0


def word_table(
    docs: DataFrame,
    max_word_len: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """(word, freq, wlen) — the ONE corpus scan unigram training needs.
    Words longer than ``max_word_len`` are excluded (see module doc)."""
    from auraverse_etl_pipeline_spark.functions.text import tokens

    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .filter(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .withColumn("wlen", F.length("word").cast("int"))
    )


def seed_counts(
    words: DataFrame, max_piece_len: int = 4, min_count: int = 2
) -> DataFrame:
    """(piece, cnt) seed inventory: every substring of length
    1..``max_piece_len`` at every position, occurrence-counted weighted
    by word frequency. Multi-char pieces below ``min_count`` are cut;
    single characters are always kept (they guarantee the DP is
    feasible for every trainable word)."""
    sub = words.select(
        "word",
        "freq",
        "wlen",
        F.explode(F.sequence(F.lit(1), F.col("wlen"))).alias("s"),
    ).select(
        "freq",
        F.explode(
            F.array(
                *[
                    F.when(
                        F.col("s") + (l - 1) <= F.col("wlen"),
                        F.substring(F.col("word"), F.col("s"), F.lit(l)),
                    )
                    for l in range(1, max_piece_len + 1)
                ]
            )
        ).alias("piece"),
    ).filter(F.col("piece").isNotNull())
    cnt = sub.groupBy("piece").agg(F.sum("freq").cast("bigint").alias("cnt"))
    return cnt.filter((F.length("piece") == 1) | (F.col("cnt") >= min_count))


def _with_logp(counts: DataFrame) -> DataFrame:
    """(piece, cnt) → (piece, cnt, logp = ln(cnt) − ln(Σcnt)).

    ``ln`` runs in the Arrow-batched Python-libm pandas_udf over the
    MODEL-sized table only (never the corpus); the total joins back
    from a 1-row aggregate (broadcast — the stat-frame fold pattern)."""
    ship_package(counts.sparkSession)
    tot = counts.agg(F.sum("cnt").cast("bigint").alias("tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        "cnt",
        (_ln(F.col("cnt").cast("double")) - _ln(F.col("tot").cast("double"))).alias(
            "logp"
        ),
    )


def compositions(max_word_len: int = 8, max_piece_len: int = 4) -> list[tuple]:
    """Every composition of every n ≤ ``max_word_len`` into parts ≤
    ``max_piece_len``, exploded to one row per part:
    (wlen, comp, k, s, l) — composition key ``comp`` is the
    comma-joined part lengths (parts are single digits, so string
    order == numeric lexicographic order), ``k`` the 1-based part
    index, ``s``/``l`` the substring start/length. 223 compositions /
    944 part rows at (8, 4) — a pure-Python literal both the Spark
    plan and the DuckDB oracle are generated from."""
    by_n: dict[int, list[tuple[int, ...]]] = {0: [()]}
    for n in range(1, max_word_len + 1):
        by_n[n] = [
            c + (l,)
            for l in range(1, min(max_piece_len, n) + 1)
            for c in by_n[n - l]
        ]
    rows = []
    for n in range(1, max_word_len + 1):
        for parts in by_n[n]:
            comp = ",".join(str(l) for l in parts)
            s = 1
            for k, l in enumerate(parts, start=1):
                rows.append((n, comp, k, s, l))
                s += l
    return rows


def viterbi_segment(
    words: DataFrame,
    model: DataFrame,
    max_piece_len: int = 4,
    max_word_len: int = 8,
) -> DataFrame:
    """Max-score segmentation of every word under a (piece, logp)
    model: (word, freq, wlen, seg, n_pieces, score), ``seg`` the
    space-joined piece sequence.

    Spelled as ENUMERATED compositions, not an iterative DP: a word of
    length n ≤ 8 has at most tetranacci(n) = 108 segmentations into
    pieces ≤ 4, so the whole max-score search is one declarative plan —
    words × broadcast composition table → substring parts → model join
    → per-(word, composition) completeness check + ordered fold → one
    max_by — with ZERO driver-side iteration, checkpoints or per-round
    jobs (the join-DP alternative was measured at 15-50 s of pure
    job-scheduling overhead on a 31-word vocabulary; this plan is a
    single job). The composition table grows tetranacci(max_word_len)
    (~3k rows at cap 12) — the cap is asserted ≤ 12; longer-word
    corpora should raise the cap only with the table growth in mind.

    Score = left-to-right fold of the parts' logp (fixed association
    order — replays digit-for-digit in any IEEE engine); ties break on
    (score DESC, comp DESC) — the longest-first-piece segmentation
    wins, a total deterministic order shared with the oracle."""
    if max_word_len > 12:
        raise ValueError(
            "enumerated-composition Viterbi caps max_word_len at 12 "
            f"(tetranacci growth); got {max_word_len}"
        )
    spark = words.sparkSession
    comp = F.broadcast(
        spark.createDataFrame(
            compositions(max_word_len, max_piece_len),
            "wlen int, comp string, k int, s int, l int",
        )
    )
    parts = words.join(comp, "wlen").select(
        "word",
        "freq",
        "wlen",
        "comp",
        "k",
        F.expr("substring(word, s, l)").alias("piece"),
    )
    # plain equality join: the model is model-sized here but the SEED
    # inventory on a web corpus can be millions of pieces — let the
    # planner/AQE pick broadcast vs shuffle.
    scored = parts.join(model.select("piece", "logp"), "piece")
    per_comp = (
        scored.groupBy("word", "freq", "wlen", "comp")
        .agg(
            F.count(F.lit(1)).alias("n_found"),
            F.array_sort(F.collect_list(F.struct("k", "piece", "logp"))).alias("ps"),
        )
        # a composition survives only if EVERY part is in the vocabulary
        .filter(F.col("n_found") == F.size(F.split("comp", ",")))
        .select(
            "word",
            "freq",
            "wlen",
            "comp",
            F.aggregate(
                F.transform("ps", lambda t: t["logp"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score"),
            F.array_join(F.transform("ps", lambda t: t["piece"]), " ").alias("seg"),
            F.size("ps").cast("bigint").alias("n_pieces"),
        )
    )
    out = (
        per_comp.groupBy("word", "freq", "wlen")
        .agg(
            F.max_by(
                F.struct("seg", "n_pieces", "score"), F.struct("score", "comp")
            ).alias("_b")
        )
        .select("word", "freq", "wlen", "_b.seg", "_b.n_pieces", "_b.score")
    )
    return release_after(out)


def _char_floor_counts(seg: DataFrame, words: DataFrame) -> DataFrame:
    """M-step counts from Viterbi usage with the add-one character
    floor: multi-char pieces get their usage (dropped at zero), single
    characters get usage + 1 so every character survives every round
    (ln(0) never occurs and the DP stays feasible)."""
    usage = (
        seg.select(F.explode(F.split("seg", " ")).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("u"))
    )
    chars = (
        words.select(F.explode(F.split("word", "")).alias("piece"))
        .distinct()
        .withColumn("is_char", F.lit(True))
    )
    return (
        usage.join(chars, "piece", "full")
        .select(
            "piece",
            (
                F.coalesce(F.col("u"), F.lit(0).cast("bigint"))
                + F.when(F.coalesce("is_char", F.lit(False)), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 48,
    em_iters: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 8,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Train the unigram-LM piece inventory: (piece, cnt, logp).

    seed substring counts → ``em_iters`` hard-EM rounds (Viterbi
    segment the word vocabulary, re-count piece usage with the add-one
    character floor, renormalize) → prune to ``vocab_size`` keeping all
    single characters plus the top multi-char pieces by (cnt DESC,
    piece ASC) → final renormalize. The model is cut
    per round (the BPE lineage-cut discipline) so the returned plan is
    model-sized with no corpus lineage."""
    words = word_table(docs, max_word_len=max_word_len, text_col=text_col).cache()
    try:
        return _unigram_train_cached(
            words, vocab_size, em_iters, max_piece_len, max_word_len, min_count
        )
    finally:
        # bpe_train/wordpiece_train discipline: a failed mid-EM job
        # (e.g. a checkpoint error) must not leak the words cache.
        words.unpersist()


def _unigram_train_cached(
    words: DataFrame,
    vocab_size: int,
    em_iters: int,
    max_piece_len: int,
    max_word_len: int,
    min_count: int,
) -> DataFrame:
    model = cut(_with_logp(seed_counts(words, max_piece_len, min_count)))
    for _ in range(em_iters):
        seg = viterbi_segment(words, model, max_piece_len, max_word_len)
        try:
            model = cut(_with_logp(_char_floor_counts(seg, words)))
        finally:
            seg.release_caches()
    # prune: all single chars + top (vocab_size − n_chars) multi-char
    # by (cnt DESC, piece ASC); the char count joins from a 1-row
    # aggregate so nothing collects to the driver.
    from pyspark.sql import Window

    nch = model.filter(F.length("piece") == 1).agg(
        F.count(F.lit(1)).cast("int").alias("n_chars")
    )
    multi = (
        model.filter(F.length("piece") > 1)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("piece"))),
        )
        .crossJoin(F.broadcast(nch))
        .filter(F.col("rk") <= F.greatest(F.lit(vocab_size) - F.col("n_chars"), F.lit(0)))
        .select("piece", "cnt")
    )
    kept = model.filter(F.length("piece") == 1).select("piece", "cnt").unionByName(multi)
    return cut(_with_logp(kept))


def unigram_encode(
    docs: DataFrame,
    model: DataFrame,
    max_piece_len: int = 4,
    max_word_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Viterbi-encode every document with a trained (piece, logp)
    model: (id, n_pieces, pieces_md5, logp_fx) — piece count, an md5
    digest of the in-order piece stream (the BPE-encode contract), and
    the fixed-point total segmentation score (Σ floor(word_score·2^40)
    over token occurrences — exact integers, order-independent).

    Scale shape: the DP runs over the DISTINCT-word table; the
    corpus-sized work is one token explode joined to the per-word
    segmentations (fixed-width rows)."""
    from auraverse_etl_pipeline_spark.functions.text import tokens

    words = word_table(docs, max_word_len=max_word_len, text_col=text_col)
    seg = viterbi_segment(words, model, max_piece_len, max_word_len)
    toks = docs.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("tpos", "word")
    ).filter(F.col("word") != "")
    fx = F.lit(UNIGRAM_FIXED_POINT)
    # plain equality join (NOT a forced broadcast): the per-word
    # segmentation table is vocabulary-sized — small here, ~100M rows
    # on a web corpus — so the planner/AQE picks the strategy.
    out = (
        toks.join(
            seg.select(
                "word", "n_pieces", "seg", F.floor(F.col("score") * fx).alias("sfx")
            ),
            "word",
        )
        .groupBy("id")
        .agg(
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("tpos", "seg"))),
                        lambda t: t["seg"],
                    ),
                    " ",
                )
            ).alias("pieces_md5"),
            F.sum("sfx").cast("bigint").alias("logp_fx"),
        )
    )
    return release_after(out, seg)
