"""End-to-end pipeline compositions.

Every stage of the crawl-to-corpus path exists as its own operator
(WARC ingestion, fragment detection, the Gopher/language/LM gates, the
exact + MinHash dedup ladder), and each is attested by its own oracle —
but per-stage oracles cannot catch cross-stage schema or content drift.
This module chains the real operators into ONE flow whose output (the
per-stage attrition funnel plus an order-independent digest of the
surviving corpus text) is replayable closed-form by a SQL oracle: if
any stage perturbs so much as one byte of one surviving document, the
digest row hash-mismatches.

Scale shape (the 100 TB reading): the corpus text makes exactly one
round trip through the Python ingest tier (WARC parse + detector, both
Arrow-batched ``mapInPandas``) and is cached once at the re-assembly
boundary — a real run would checkpoint that boundary to parquet, which
is the same plan with durability. Every later stage consumes either
fixed-width flag rows (cached separately, ~50 bytes/doc), the
LM transition explode (model tables broadcast), or the MinHash band
join — text itself never shuffles after re-assembly, and the funnel
report is one single-row aggregate fanned out to stage rows
(``curation_funnel``'s shape).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from auraverse_etl_pipeline_spark.operators.caching import cut, release_after
from auraverse_etl_pipeline_spark.operators.lm import LM_XENT_MAX


def crawl_to_corpus_funnel(
    docs: DataFrame,
    ref: DataFrame,
    records_per_file: int = 50,
    xent_max: float = LM_XENT_MAX,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    hash_fn: str = "md5",
    blocked_domains: list[str] | None = None,
    uri_col: str | None = None,
) -> DataFrame:
    """Run ``docs`` through the whole curation pipeline and report
    per-stage attrition plus a final-corpus digest:

    1. ``warc_roundtrip`` — stage documents into gzipped WARC files
       (:func:`documents_to_warc`, with per-document target URIs when
       ``uri_col`` is given) and re-ingest them
       (:func:`warc_documents`): the CommonCrawl entry point.
    2. ``detect_extract`` — the full fragment detector suite over the
       re-ingested text; documents re-assembled from their fragments
       in span order (identity on prose, and the detector's occupied-
       interval reservation guarantees non-overlapping spans).
    3. ``domain_blocklist`` — the Bloom-gated registrable-domain gate
       (the RefinedWeb stage order: the blocklist runs BEFORE dedup,
       so a blocked mirror never decides a duplicate group's
       canonical): domains extract from the re-ingested crawl's
       WARC-Target-URI under the PSL snapshot, probe the Bloom filter
       built from ``blocked_domains``, flagged domains exact-verify.
       A no-op pass-through when no blocklist/URI is supplied.
    4. ``exact_dedup`` — keep-first per ``md5(text)`` group, among
       domain-stage survivors.
    5. ``gopher`` — the Gopher quality rules.
    6. ``lang_id`` — stopword-vote language ID resolves (≠ 'und').
    7. ``lm_fluency`` — bigram-LM cross-entropy against ``ref`` (the
       trusted slice) at most ``xent_max`` nats/token; scored only for
       stage-6 survivors (the expensive gate runs last, CCNet's order).
    8. ``minhash_dedup`` — MinHash-LSH near-duplicate pairs (exact-
       Jaccard verified) among stage-7 survivors; every doc that pairs
       with a smaller-id survivor is dropped (keep-first edge rule,
       :func:`drop_near_duplicates`' contract).
    9. ``final_corpus`` — the summary row: surviving doc count, total
       whitespace tokens, and ``bit_xor`` over the leading 60 bits of
       each survivor's ``sha256(text)`` — an order-independent content
       digest (bit 63 stays unused per the engine-portability rule).

    Output: ``(stage_id, stage, docs_in, docs_out, dropped,
    corpus_tokens, text_xor60)`` — the last two null except on row 9.
    """
    from auraverse_etl_pipeline_spark.functions.text import lang_guess, tokens
    from auraverse_etl_pipeline_spark.ingest.pipeline import detect_fragments
    from auraverse_etl_pipeline_spark.ingest.warc import (
        documents_to_warc,
        warc_documents,
    )
    from auraverse_etl_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from auraverse_etl_pipeline_spark.operators.lm import lm_score_report
    from auraverse_etl_pipeline_spark.operators.quality import (
        gopher_metrics,
        gopher_rules,
    )

    with_domains = blocked_domains is not None and uri_col is not None
    src_cols = ["text"] + ([uri_col] if with_domains else [])
    src = docs.select(F.col("doc_id").cast("long").alias("doc_id"), *src_cols)
    c_src = src.agg(F.count(F.lit(1)).cast("bigint").alias("c0"))

    # Stage 1: WARC staging + re-ingestion. Cached: the parse chain is
    # consumed by the stage-1 count AND the detector — uncached, the
    # crawl would be built and parsed twice. This is the first of the
    # two boundaries a real run checkpoints to parquet (raw
    # re-extracted crawl text).
    files = documents_to_warc(
        src,
        records_per_file=records_per_file,
        gzip=True,
        uri_col=uri_col if with_domains else None,
    )
    parsed = warc_documents(files, with_uri=with_domains).cache()
    c_parsed = parsed.agg(F.count(F.lit(1)).cast("bigint").alias("c1"))

    # Stage 3 input: per-doc domain verdict from the re-ingested
    # crawl's own metadata (NOT the pre-staging column — the gate must
    # consume what the WARC path preserved). Bloom probe over the
    # distinct-domain table, exact verify of flagged only; the blocked
    # table is model-sized and broadcasts back onto doc ids.
    if with_domains:
        from auraverse_etl_pipeline_spark.operators.bloom import (
            BLOCKLIST_NUM_BITS,
            BLOCKLIST_NUM_HASHES,
            bloom_build,
            bloom_might_contain,
        )
        from auraverse_etl_pipeline_spark.operators.quality import (
            registrable_domain,
        )

        num_bits, num_hashes = BLOCKLIST_NUM_BITS, BLOCKLIST_NUM_HASHES
        bl = src.sparkSession.createDataFrame(
            [(x,) for x in sorted(blocked_domains)], "domain string"
        )
        bloom = bloom_build(bl, "domain", num_bits, num_hashes)
        doms = parsed.select(
            "doc_id", registrable_domain("target_uri").alias("domain")
        )
        flagged_doms = bloom_might_contain(
            doms.select("domain").distinct(), bloom, "domain", num_bits, num_hashes
        ).filter("bloom_hit")
        blocked_tbl = flagged_doms.join(F.broadcast(bl), "domain").select("domain")
        domain_ok_tbl = doms.join(
            F.broadcast(blocked_tbl.withColumn("hit", F.lit(True))), "domain", "left"
        ).select("doc_id", (~F.coalesce("hit", F.lit(False))).alias("domain_ok"))
    else:
        domain_ok_tbl = parsed.select(
            "doc_id", F.lit(True).alias("domain_ok")
        )

    # Stage 2: detector + span-ordered re-assembly. Cached: feeds the
    # flag projection AND the stage-5 survivor text lookup —
    # recomputing it would re-run the detector. The second parquet
    # checkpoint boundary of a real run (post-extraction documents).
    redocs = (
        detect_fragments(parsed)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("start_index", "text"))),
                    lambda s: s["text"],
                ),
                "",
            ).alias("text")
        )
        # EAGER cut, not .cache() (optimization r17): this
        # is the documented parquet-checkpoint boundary of a real run,
        # and the in-memory spelling that actually matches it is the
        # lineage CUT — a .cache() leaves the warc+detector logical
        # tree embedded in every downstream frame, and Catalyst
        # re-analyzes it once per action (measured: ~6 s of pure
        # driver-side plan analysis per warm funnel run, §7.3's
        # planning-time trap). The detector output is deterministic,
        # so the cut changes no rows.
        .transform(cut)
    )

    # Fixed-width per-doc flags (text dropped before caching). The
    # keep-first canonical is decided among DOMAIN-STAGE SURVIVORS
    # only — a blocked mirror must not absorb a duplicate group's
    # canonical slot (stage order is load-bearing here).
    wc_ok, wl_ok, st_ok = gopher_rules(*gopher_metrics("text"))
    flags = redocs.select(
        "doc_id",
        F.md5("text").alias("h"),
        (wc_ok & wl_ok & st_ok).alias("gopher"),
        (lang_guess("text") != "und").alias("lang_ok"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        F.conv(F.substring(F.sha2("text", 256), 1, 15), 16, 10)
        .cast("bigint")
        .alias("sha60"),
    ).join(domain_ok_tbl, "doc_id")
    # flags fans out to the canon aggregate AND the flagged join, and
    # its logical tree carries the whole domain-gate probe plus the
    # gopher/lang/md5/sha2 expression forest — the second lineage cut
    # (optimization r17): a .cache() would re-run Catalyst analysis of
    # that forest under every downstream action (same §7.3 trap as the
    # redocs boundary). Fixed-width rows, deterministic content.
    flags = cut(flags)
    canon = (
        flags.filter("domain_ok").groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    )
    flagged = (
        flags.join(canon, "h", "left")
        .select(
            "doc_id",
            "n_tokens",
            "sha60",
            "domain_ok",
            (
                F.col("domain_ok")
                & (F.col("doc_id") == F.coalesce("keep_id", F.lit(-1)))
            ).alias("canonical"),
            "gopher",
            "lang_ok",
        )
        .cache()  # consumed by the survivor cut AND the final aggregate
    )

    s5_pass = F.col("canonical") & F.col("gopher") & F.col("lang_ok")
    s5 = redocs.join(flagged.filter(s5_pass).select("doc_id"), "doc_id")

    # Stage 7: LM gate over stage-6 survivors only. Scores cached: the
    # frame feeds the stage-7 survivor cut AND the funnel flag join.
    # The lm_score_report result is kept (not just its .select) so its
    # chained release handle — the three model-table caches plus the
    # internal bigram-count cache — releases with everything else.
    lm_out = lm_score_report(s5, ref)
    # third lineage cut (optimization r18, same §7.3 trap): scores is
    # consumed by the stage-7 survivor cut AND the final flag join, and
    # a .cache() would leave the whole LM-scoring forest (model
    # aggregates + transition explode over stage-6 survivors) embedded
    # as the cached subtree's logical plan, re-analyzed per consumer.
    # Fixed-width rows, deterministic content.
    scores = lm_out.select(
        F.col("id").alias("doc_id"),
        (F.col("xent").isNotNull() & (F.col("xent") <= F.lit(float(xent_max)))).alias(
            "fluent"
        ),
    )
    scores = cut(scores)
    s6 = s5.join(scores.filter("fluent").select("doc_id"), "doc_id")

    # Stage 8: near-dedup among stage-7 survivors (keep-first edge rule).
    pairs = minhash_near_duplicates(
        s6,
        jaccard_threshold=jaccard_threshold,
        n=shingle_n,
        hash_fn=hash_fn,
    )
    dup = pairs.select(F.col("id2").alias("doc_id")).distinct()

    joined = (
        flagged.join(scores, "doc_id", "left")
        .join(dup.withColumn("is_dup", F.lit(True)), "doc_id", "left")
        .select(
            "n_tokens",
            "sha60",
            "domain_ok",
            "canonical",
            "gopher",
            "lang_ok",
            F.coalesce("fluent", F.lit(False)).alias("fluent"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )

    def _n(cond) -> F.Column:
        return F.sum(cond.cast("int")).cast("bigint")

    c = F.col
    # canonical already implies domain_ok (keep-first runs among
    # domain survivors), so the cascade stays one conjunction chain.
    final = c("canonical") & c("gopher") & c("lang_ok") & c("fluent") & ~c("is_dup")
    agg = (
        joined.agg(
            F.count(F.lit(1)).cast("bigint").alias("c2"),
            _n(c("domain_ok")).alias("c3"),
            _n(c("canonical")).alias("c4"),
            _n(c("canonical") & c("gopher")).alias("c5"),
            _n(c("canonical") & c("gopher") & c("lang_ok")).alias("c6"),
            _n(c("canonical") & c("gopher") & c("lang_ok") & c("fluent")).alias("c7"),
            _n(final).alias("c8"),
            F.sum(F.when(final, c("n_tokens"))).cast("bigint").alias("corpus_tokens"),
            F.bit_xor(F.when(final, c("sha60"))).cast("bigint").alias("text_xor60"),
        )
        .crossJoin(F.broadcast(c_src))
        .crossJoin(F.broadcast(c_parsed))
    )

    stage_names = (
        "warc_roundtrip",
        "detect_extract",
        "domain_blocklist",
        "exact_dedup",
        "gopher",
        "lang_id",
        "lm_fluency",
        "minhash_dedup",
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("stage_id"),
                F.lit(name).alias("stage"),
                c(f"c{i}").alias("docs_in"),
                c(f"c{i + 1}").alias("docs_out"),
                F.lit(None).cast("bigint").alias("corpus_tokens"),
                F.lit(None).cast("bigint").alias("text_xor60"),
            )
            for i, name in enumerate(stage_names)
        ],
        F.struct(
            F.lit(9).cast("bigint").alias("stage_id"),
            F.lit("final_corpus").alias("stage"),
            c("c8").alias("docs_in"),
            c("c8").alias("docs_out"),
            c("corpus_tokens").alias("corpus_tokens"),
            c("text_xor60").alias("text_xor60"),
        ),
    )
    result = (
        agg.select(F.explode(stages).alias("st"))
        .select("st.*")
        .select(
            "stage_id",
            "stage",
            "docs_in",
            "docs_out",
            (c("docs_in") - c("docs_out")).alias("dropped"),
            "corpus_tokens",
            "text_xor60",
        )
    )
    return release_after(result, parsed, redocs, flags, flagged, scores, lm_out)


def corpus_to_chunk_index(
    docs: DataFrame,
    queries: DataFrame,
    chunk: int = 64,
    stride: int = 48,
    dim: int = 64,
    nlist: int = 8,
    lloyd_iters: int = 2,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """The RETRIEVAL-side pipeline composition — the RAG twin of
    :func:`crawl_to_corpus_funnel`: a document corpus becomes a
    searchable chunk-level ANN index in one flow, and a query corpus
    searches it.

    1. **Chunk** — sliding context windows (``chunk`` tokens, stride
       ``stride``), chunk id = ``doc_id·2^20 + chunk_idx``. A document
       would need ≥ 2^20 windows (~50M tokens at chunk=64/stride=48)
       to overflow the namespace, and rather than silently alias into
       the next doc_id the id expression raises on any chunk_idx at or
       past the limit (ADVICE r9).
    2. **Embed** — feature-hashed unit vectors per chunk
       (:func:`~auraverse_etl_pipeline_spark.operators.similarity.
       hashed_embeddings`): the model-free encoder. Zero-norm chunks
       (empty or sign-cancelled — possible at even token counts) are
       DROPPED before the vector tier: cosine against a zero vector
       is NaN, and NaN ordering is exactly the kind of cross-engine
       ambiguity this pipeline refuses to ship.
    3. **Index** — the deterministic Lloyd coarse quantizer
       (``quantizer="lloyd"``) over the chunk vectors.
    4. **Search** — the query documents embed through the SAME
       encoder and probe the index (``exact_fold=True``, so in-cell
       cosines replay in SQL).

    Every stage is individually oracle-gated elsewhere; this flow is
    what proves they COMPOSE — chunk ids, embedding components, cell
    labels and search ranks all survive the hand-offs. Output:
    (query_id, neighbor_id, rank, cosine) — neighbor_id is a chunk id.

    Scale shape: the chunk explode is the only corpus-sized fan-out
    (fixed-width token-slice rows); embeddings are one aggregate +
    dense materialization; the quantizer collects only model-sized
    centroids per round; the search probes ``nprobe/nlist`` of the
    chunk index. Text never shuffles past the embed stage."""
    from auraverse_etl_pipeline_spark.functions.text import tokens
    from auraverse_etl_pipeline_spark.operators.similarity import (
        hashed_embeddings,
        ivf_index,
        ivf_search,
    )

    toks = tokens("text")
    n = F.size(toks)
    n_chunks = F.when(n <= chunk, F.lit(1)).otherwise(
        F.ceil((n - chunk) / float(stride)).cast("bigint") + 1
    )
    base = docs.select("doc_id", toks.alias("toks"), n_chunks.alias("n_chunks"))
    exploded = base.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    )
    piece = F.slice(F.col("toks"), F.col("chunk_idx") * stride + 1, chunk)
    # 2^20 chunk-id namespace per document; fail loudly (never alias
    # into the next doc_id) if a pathological document overflows it.
    lim = 1 << 20
    chunk_id = F.when(
        F.col("chunk_idx") < lim, F.col("doc_id") * lim + F.col("chunk_idx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("corpus_to_chunk_index: document "),
                F.col("doc_id").cast("string"),
                F.lit(f" exceeds {lim} chunks; widen the chunk-id namespace"),
            )
        ).cast("bigint")
    )
    chunks = exploded.select(
        chunk_id.alias("chunk_id"),
        F.concat_ws(" ", piece).alias("text"),
    )
    # EAGER lineage cut for the chunk vectors (optimization r17, the
    # crawl funnel's rule): this is the parquet-checkpoint boundary of
    # a real deployment, and the Lloyd loop's per-round collects plus
    # the final assignment and the search's in-cell scan each
    # re-ANALYZE whatever logical tree sits here — a .cache() leaves
    # the chunk explode + embedding aggregate embedded in all of them,
    # a cut truncates it (deterministic content, same rows).
    cvec = (
        hashed_embeddings(chunks, dim=dim, id_col="chunk_id")
        .filter(F.col("norm") > 0)
        .select(F.col("id").alias("vec_id"), F.col("embedding"))
        .transform(cut)
    )
    qvec = (
        hashed_embeddings(queries, dim=dim)
        .filter(F.col("norm") > 0)
        .select(F.col("id").alias("vec_id"), F.col("embedding"))
    )
    index = ivf_index(cvec, nlist=nlist, quantizer="lloyd", max_iter=lloyd_iters)
    # clamp: a duplicated document through the deterministic encoder
    # makes a query vector EQUAL an indexed chunk vector
    out = ivf_search(qvec, index, k=k, nprobe=nprobe, exact_fold=True, clamp=True)
    return release_after(out, cvec)
