"""In-engine BPE tokenizer training and encoding.

Byte-pair encoding (Sennrich et al. 2016) learned FROM the corpus, in
the engine: the merge table a real tokenizer ships is itself a data
artifact, and training it is the canonical "iterative algorithm over an
aggregate" the reference engine cannot express at all (its token logic
stops at regex splitting, ``script.py:425``; this repo's
``text_bpe_token_budget`` is the counting proxy — here the actual
merges are learned).

The key scale property of word-level BPE: after ONE corpus scan that
counts word frequencies, training state is the WORD VOCABULARY
(vocabulary-bounded, never corpus-bounded — ~100M rows for a web
corpus, weighted by frequency), so the merge loop's per-round shuffles
move vocabulary-sized symbol tables, and the corpus text is never read
again. Each round is: adjacent-pair counts (``lead`` window + one
partial-aggregated sum), a 1-row argmax collected to the driver (the
same driver-side control as connected components' convergence check —
one row, not data), and a greedy non-overlapping merge application
spelled entirely in window functions (runs of consecutive match
positions keep even offsets — left-to-right greedy, exactly the
reference BPE semantics). Lineage is cut per round (``cut``) on the
vocabulary-sized state, the previous round's cache released eagerly.

Determinism/parity: ties in the argmax break on (count DESC, left ASC,
right ASC) — a documented deviation from insertion-order tie-breaking
in some reference implementations, chosen because it is reproducible
in ANY engine; the DuckDB oracle replays every round digit-for-digit
as an unrolled CTE chain. Character splitting parity: on this Spark
line ``split(word, '')`` splits per CODEPOINT (probed: non-BMP
``a𝄞b`` → 3 symbols, decomposed ``éx`` → 3), exactly matching
DuckDB's ``string_split(word, '')`` — the historical ASCII-only
UTF-16-code-unit guard is retired and pinned by non-ASCII fixtures in
tests/test_operators.py. Grapheme clusters still split into their
component codepoints on BOTH engines (not a divergence, but a
semantics note). The byte-level variants below sidestep character
semantics entirely: symbols are UTF-8 bytes spelled as two-hex-char
strings, identical in any engine by construction.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from auraverse_etl_pipeline_spark.operators.caching import cut
from auraverse_etl_pipeline_spark.runtime import ship_package

#: Merge-table schema: one row per learned merge, in order.
MERGES_SCHEMA = "step bigint, lhs string, rhs string, pair_count bigint"


def word_freqs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, freq) — the ONE corpus scan BPE training needs."""
    from auraverse_etl_pipeline_spark.functions.text import tokens

    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """Explode each vocabulary word into (word, freq, i, sym) char
    rows — the mutable training state, vocabulary-bounded."""
    return words.select(
        "word",
        "freq",
        F.posexplode(F.split("word", "")).alias("i", "sym"),
    ).select("word", "freq", (F.col("i") + 1).cast("bigint").alias("i"), "sym")


def _apply_merge(syms: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """One greedy left-to-right non-overlapping merge of (lhs, rhs)
    over the exploded symbol state. Overlaps only chain through runs
    of CONSECUTIVE match positions (a match at i consumes i and i+1),
    so greedy == keep even offsets within each such run — pure window
    algebra, no per-row Python."""
    w = Window.partitionBy("word").orderBy("i")
    p = syms.withColumn("nxt", F.lead("sym").over(w))
    matches = p.filter((F.col("sym") == lhs) & (F.col("nxt") == rhs)).select(
        "word", "i"
    )
    mw = Window.partitionBy("word").orderBy("i")
    isl = matches.withColumn("isl", F.col("i") - F.row_number().over(mw))
    iw = Window.partitionBy("word", "isl")
    # kept derives FROM p: alias its columns before re-joining them to
    # p, or the equality would resolve to the same attribute ids (the
    # trivially-true self-join condition trap).
    kept = (
        isl.withColumn("off", F.col("i") - F.min("i").over(iw))
        .filter(F.col("off") % 2 == 0)
        .select(F.col("word").alias("kw"), F.col("i").alias("ki"))
    )
    merged = (
        p.join(
            kept,
            (F.col("word") == F.col("kw")) & (F.col("i") == F.col("ki")),
            "left",
        )
        .withColumn("merge_here", F.col("ki").isNotNull())
        .drop("kw", "ki")
    )
    consumed = kept.select(
        F.col("kw").alias("cw"), (F.col("ki") + 1).alias("ci")
    )
    rebuilt = (
        merged.join(
            consumed,
            (F.col("word") == F.col("cw")) & (F.col("i") == F.col("ci")),
            "left_anti",
        )
        .select(
            "word",
            "freq",
            "i",
            F.when(F.col("merge_here"), F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        .withColumn(
            "i", F.row_number().over(Window.partitionBy("word").orderBy("i")).cast("bigint")
        )
    )
    return rebuilt


def bpe_train(
    docs: DataFrame,
    num_merges: int = 8,
    min_pair_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus; returns the
    ordered merge table ``(step, lhs, rhs, pair_count)`` (driver-side
    model data, like KMeans centroids — ``num_merges`` rows).

    Stops early when the best remaining pair occurs fewer than
    ``min_pair_count`` times (weighted by word frequency) — merging
    noise pairs only bloats the vocab. Per-round state is
    vocabulary-bounded and checkpointed; the corpus is scanned once."""
    spark = docs.sparkSession
    syms = cut(_initial_symbols(word_freqs(docs, text_col, id_col)))
    return spark.createDataFrame(
        _merge_loop(syms, num_merges, min_pair_count), MERGES_SCHEMA
    )


def _merge_loop(
    syms: DataFrame, num_merges: int, min_pair_count: int
) -> list[tuple[int, str, str, int]]:
    """The count-criterion BPE merge loop over an already-checkpointed
    symbol state (char- and byte-level training share it verbatim —
    the loop never inspects what a symbol IS). Owns and releases the
    state; returns the learned merge rows."""
    merges: list[tuple[int, str, str, int]] = []
    try:
        for step in range(num_merges):
            w = Window.partitionBy("word").orderBy("i")
            pairs = (
                syms.withColumn("nxt", F.lead("sym").over(w))
                .filter(F.col("nxt").isNotNull())
                .groupBy("sym", "nxt")
                .agg(F.sum("freq").cast("bigint").alias("cnt"))
            )
            best = pairs.orderBy(
                F.col("cnt").desc(), F.col("sym").asc(), F.col("nxt").asc()
            ).limit(1).collect()
            if not best or best[0]["cnt"] < min_pair_count:
                break
            lhs, rhs, cnt = best[0]["sym"], best[0]["nxt"], int(best[0]["cnt"])
            merges.append((step, lhs, rhs, cnt))
            nxt_state = cut(_apply_merge(syms, lhs, rhs))
            syms.unpersist()
            syms = nxt_state
    finally:
        syms.unpersist()
    return merges


def _rank_merge_encode(
    docs: DataFrame,
    merges: DataFrame,
    initial_syms,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared encode kernel for the char- and byte-level tiers (the
    training twin is ``_merge_loop``): the merge table collects to a
    rank dict closed over a memoized Arrow-batched pandas_udf, and the
    standard lowest-rank-first merge loop runs per word over
    ``initial_syms(word)`` — ``list`` for char BPE, UTF-8 hex pairs
    for byte BPE. Embarrassingly parallel over the corpus, no shuffle
    at all. Returns (doc_id, pieces array<string>, n_pieces)."""
    ship_package(docs.sparkSession)
    ranks = {
        (r["lhs"], r["rhs"]): int(r["step"])
        for r in merges.select("step", "lhs", "rhs").collect()
    }

    def _encode_word(word: str, memo: dict) -> list[str]:
        got = memo.get(word)
        if got is not None:
            return got
        syms = initial_syms(word)
        while len(syms) > 1:
            ranked = [
                ranks[(a, b)]
                for a, b in zip(syms, syms[1:])
                if (a, b) in ranks
            ]
            if not ranked:
                break
            rank = min(ranked)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and ranks.get((syms[i], syms[i + 1])) == rank
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        memo[word] = syms
        return syms

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def _encode(texts: pd.Series) -> pd.Series:
        memo: dict = {}
        return texts.map(
            lambda t: [
                piece
                for wrd in (t or "").strip().split()
                for piece in _encode_word(wrd, memo)
            ]
        )

    return docs.select(
        F.col(id_col).alias("doc_id"), _encode(F.col(text_col)).alias("pieces")
    ).withColumn("n_pieces", F.size("pieces").cast("bigint"))


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a learned merge table: ``(doc_id, pieces
    array<string>, n_pieces)``. The merge table collects to a
    rank dict (model-sized, like the NB weights) closed over an
    Arrow-batched pandas_udf; encoding is the standard lowest-rank-
    first merge loop per word, memoized per batch — see
    :func:`_rank_merge_encode`."""
    return _rank_merge_encode(docs, merges, list, text_col, id_col)


__all__ = [
    "MERGES_SCHEMA",
    "bpe_encode",
    "bpe_train",
    "bytebpe_encode",
    "bytebpe_train",
    "word_freqs",
]


#: WordPiece merge-table schema: BPE's plus the likelihood score.
WP_MERGES_SCHEMA = "step bigint, lhs string, rhs string, pair_count bigint, score double"


def wordpiece_train(
    docs: DataFrame,
    num_merges: int = 8,
    min_pair_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn ``num_merges`` WordPiece merges (Schuster & Nakajima; the
    BERT tokenizer family) — the BPE loop with the LIKELIHOOD merge
    criterion: pick the pair maximizing ``count(lhs,rhs) /
    (count(lhs)·count(rhs))``, the pair whose merge most increases a
    unigram LM's corpus likelihood, instead of raw pair count. Returns
    ``(step, lhs, rhs, pair_count, score)``.

    The score is a single IEEE division of exact BIGINT counts —
    engine-portable arithmetic (ties break (score DESC, lhs, rhs));
    everything else (state, greedy non-overlap merge application,
    per-round checkpoint) is shared with :func:`bpe_train`. Same scale
    shape: one corpus scan, vocabulary-bounded rounds, 1-row argmax to
    the driver. The ``##`` continuation-prefix display convention is
    not modeled — symbols are plain substrings (documented deviation;
    it affects rendering, not segmentation)."""
    spark = docs.sparkSession
    syms = cut(_initial_symbols(word_freqs(docs, text_col, id_col)))
    merges: list[tuple[int, str, str, int, float]] = []
    try:
        for step in range(num_merges):
            w = Window.partitionBy("word").orderBy("i")
            unit = syms.groupBy("sym").agg(F.sum("freq").cast("bigint").alias("c"))
            pairs = (
                syms.withColumn("nxt", F.lead("sym").over(w))
                .filter(F.col("nxt").isNotNull())
                .groupBy("sym", "nxt")
                .agg(F.sum("freq").cast("bigint").alias("cnt"))
            )
            scored = (
                pairs.join(unit.select(F.col("sym").alias("l_sym"), F.col("c").alias("cl")),
                           F.col("sym") == F.col("l_sym"))
                .join(unit.select(F.col("sym").alias("r_sym"), F.col("c").alias("cr")),
                      F.col("nxt") == F.col("r_sym"))
                .select(
                    "sym", "nxt", "cnt",
                    (
                        F.col("cnt").cast("double")
                        / (F.col("cl").cast("double") * F.col("cr").cast("double"))
                    ).alias("score"),
                )
            )
            best = scored.orderBy(
                F.col("score").desc(), F.col("sym").asc(), F.col("nxt").asc()
            ).limit(1).collect()
            if not best or best[0]["cnt"] < min_pair_count:
                break
            lhs, rhs = best[0]["sym"], best[0]["nxt"]
            merges.append((step, lhs, rhs, int(best[0]["cnt"]), float(best[0]["score"])))
            nxt_state = cut(_apply_merge(syms, lhs, rhs))
            syms.unpersist()
            syms = nxt_state
    finally:
        syms.unpersist()
    return spark.createDataFrame(merges, WP_MERGES_SCHEMA)


def wordpiece_encode(
    docs: DataFrame,
    merges: DataFrame,
    max_word_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a WordPiece vocabulary (the corpus alphabet plus
    every merge result) by MAXIMAL MUNCH over enumerated compositions:
    among the segmentations whose pieces are all in the vocabulary,
    pick the composition-key maximum — longest first piece, then
    longest second, i.e. longest-match WITH backtracking (greedy HF
    WordPiece UNKs on greedy dead-ends; this variant degrades to
    single characters instead, deterministic and engine-portable —
    documented deviation). Single characters are always in the
    vocabulary, so every trainable word segments.

    Output: ``(id, n_pieces, pieces_md5)`` — the BPE-encode digest
    contract. Same scale shape as the unigram encoder: the composition
    search runs over the DISTINCT-word table; the corpus-sized work is
    one token explode joined to per-word segmentations."""
    from auraverse_etl_pipeline_spark.functions.text import tokens
    from auraverse_etl_pipeline_spark.operators.caching import release_after
    from auraverse_etl_pipeline_spark.operators.unigram import compositions, word_table

    spark = docs.sparkSession
    words = word_table(docs, max_word_len=max_word_len, text_col=text_col)
    chars = words.select(F.explode(F.split("word", "")).alias("piece")).distinct()
    merged = merges.select(F.concat("lhs", "rhs").alias("piece")).distinct()
    vocab = chars.unionByName(merged).distinct()
    comp = F.broadcast(
        spark.createDataFrame(
            compositions(max_word_len, max_word_len),
            "wlen int, comp string, k int, s int, l int",
        )
    )
    parts = words.join(comp, "wlen").select(
        "word", "comp", "k", F.expr("substring(word, s, l)").alias("piece")
    )
    per_comp = (
        parts.join(vocab, "piece")
        .groupBy("word", "comp")
        .agg(
            F.count(F.lit(1)).alias("n_found"),
            F.array_sort(F.collect_list(F.struct("k", "piece"))).alias("ps"),
        )
        .filter(F.col("n_found") == F.size(F.split("comp", ",")))
        .select(
            "word",
            "comp",
            F.array_join(F.transform("ps", lambda t: t["piece"]), " ").alias("seg"),
            F.size("ps").cast("bigint").alias("n_pieces"),
        )
    )
    seg = (
        per_comp.groupBy("word")
        .agg(F.max_by(F.struct("seg", "n_pieces"), F.col("comp")).alias("_b"))
        .select("word", "_b.seg", "_b.n_pieces")
    )
    toks = docs.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("tpos", "word")
    ).filter(F.col("word") != "")
    out = (
        toks.join(seg, "word")
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
        )
    )
    return release_after(out)


# ---------------------------------------------------------------------------
# Byte-level BPE (the GPT-2 / Llama-3 vocabulary family)
# ---------------------------------------------------------------------------


def _initial_byte_symbols(words: DataFrame) -> DataFrame:
    """Explode each vocabulary word into (word, freq, i, sym) rows
    where ``sym`` is one UTF-8 BYTE spelled as two uppercase hex chars
    (``hex(encode(word, 'UTF-8'))`` sliced pairwise). Merged symbols
    concatenate to longer even-length hex strings, so the whole merge
    machinery is shared with char-level BPE. Bytes make the alphabet
    closed (≤256 initial symbols, no UNK) and the arithmetic
    engine-neutral for ARBITRARY unicode input — the UTF-8 encoding of
    a string is identical everywhere, unlike character segmentation."""
    return (
        words.withColumn("h", F.hex(F.encode("word", "UTF-8")))
        .select(
            "word",
            "freq",
            F.posexplode(
                F.expr("transform(sequence(1, length(h) div 2), i -> substring(h, 2*i-1, 2))")
            ).alias("i", "sym"),
        )
        .select("word", "freq", (F.col("i") + 1).cast("bigint").alias("i"), "sym")
    )


def bytebpe_train(
    docs: DataFrame,
    num_merges: int = 8,
    min_pair_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn ``num_merges`` BYTE-level BPE merges (Radford et al. 2019;
    the GPT-2/Llama-3 tokenizer family): identical loop to
    :func:`bpe_train` but the initial symbols are UTF-8 bytes as hex
    pairs, so ``lhs``/``rhs`` in the returned ``(step, lhs, rhs,
    pair_count)`` table are even-length hex strings. Pre-tokenization
    is the same whitespace split as the word-level trainer (documented
    deviation from GPT-2's regex pre-tokenizer — the merge algebra,
    not the regex, is the operator under test). Same scale shape: one
    corpus scan, vocabulary-bounded rounds, 1-row argmax."""
    spark = docs.sparkSession
    syms = cut(_initial_byte_symbols(word_freqs(docs, text_col, id_col)))
    return spark.createDataFrame(
        _merge_loop(syms, num_merges, min_pair_count), MERGES_SCHEMA
    )


def bytebpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a learned byte-level merge table: ``(doc_id,
    pieces array<string>, n_pieces)`` with pieces as hex strings.
    The shared :func:`_rank_merge_encode` kernel over a word's UTF-8
    bytes as hex pairs — computed by Python's encoder, byte-identical
    to the JVM's and DuckDB's."""
    return _rank_merge_encode(docs, merges, _utf8_hex_syms, text_col, id_col)


def _utf8_hex_syms(word: str) -> list[str]:
    return ["%02X" % b for b in word.encode("utf-8")]
