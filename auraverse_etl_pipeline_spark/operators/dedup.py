"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — at 100 TB you run them in this order and
each tier prunes the next one's input:

1. **Exact** — md5 groupBy. One shuffle on a 32-char key; at corpus
   scale the hash (not the text) shuffles, so the network cost is
   O(rows × 32 B).
2. **SimHash** — 64-bit near-dup signature; candidate pairs via band
   equality joins (4 × 16-bit bands → Hamming ≤ 3 guaranteed recall per
   band table). Equality joins only, no O(n²).
3. **MinHash + LSH** — shingle → MinHash signatures → banded buckets
   (pyspark.ml MinHashLSH: OR-amplified across hash tables), candidates
   verified with exact Jaccard. The classic web-dedup pipeline.
4. **Exact n-gram Jaccard** — explode shingles → self-join on shingle →
   count agreement. Exact but quadratic in the worst case; bound it to
   candidate sets or small partitions.

All DataFrame-native; the only model objects (MinHashLSH) are seeded for
determinism.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window

from auraverse_etl_pipeline_spark.functions.text import tokens
from auraverse_etl_pipeline_spark.operators.caching import cut, release_after


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content_md5, n_docs,
    first_doc_id, last_doc_id) for groups with ≥2 members."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each identical-text group.
    Deterministic (unlike ``dropDuplicates`` which keeps an arbitrary
    row); one shuffle on the md5 key."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard similarity over distinct word-``n``-gram shingle
    sets, computed as a sparse self-join (explode → join on shingle →
    count shared), never a cross join: pairs sharing zero shingles never
    materialize. Output: (id1, id2, n_shared, n1, n2, jaccard ≥ threshold).

    Scale note: the join key is the shingle, so hot shingles (boiler-
    plate) skew the shuffle — prune the top-frequency shingles first at
    real scale (stopword-shingle removal), or feed this only LSH
    candidates (``minhash_near_duplicates`` does exactly that)."""
    docs = _shingle_table(df, n=n, text_col=text_col, id_col=id_col).withColumn(
        "n_sh", F.size("sh").cast("bigint")
    )
    exploded = docs.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    left = exploded.select(
        F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"), "shingle"
    )
    right = exploded.select(
        F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"), "shingle"
    )
    return (
        left.join(right, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2", "n1", "n2")
        .agg(F.count("*").alias("n_shared"))
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("n1") + F.col("n2") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "n_shared", "n1", "n2", "jaccard")
    )


#: 31-bit Mersenne prime — affine MinHash permutations stay in [0, P)
#: and ``a*h + b`` fits a signed 64-bit long (no ANSI overflow).
_MINHASH_P = (1 << 31) - 1


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Native MinHash signatures: (doc_id, sh, sig: array<bigint>).

    One ``xxhash64`` per distinct shingle, then ``num_hashes`` affine
    permutations ``(a_i*h + b_i) mod P`` folded with per-doc ``min()``
    aggregates — explode + groupBy-min rather than nested array
    transforms, because min() is a codegen'd partial aggregate (map-side
    combine ⇒ the shuffle carries one num_hashes-wide row per doc,
    never the shingles), while ``array_min(transform(...)) × H``
    evaluates interpreted and re-inlines the shingle expression per
    hash (measured ~50× slower)."""
    docs = _shingle_table(df, n=n, text_col=text_col, id_col=id_col)
    mins = _minhash_mins(docs, num_hashes=num_hashes, seed=seed)
    sig = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    return mins.join(docs, "doc_id").select("doc_id", "sh", sig.alias("sig"))


def _shingle_table(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, sh) with the corpus spread across defaultParallelism
    partitions BEFORE the shingle expressions run — a small parquet
    input arrives as one split, so parallelize explicitly.

    Shingling runs through ``pyspark.ml.feature.NGram`` (a JVM-side
    transformer): per-row, no shuffle, no interpreted higher-order
    expression. The equivalent ``transform(sequence(...), concat_ws ∘
    slice)`` column expression evaluates interpreted and measured ~2.3×
    slower cold at sf0.1; NGram keeps the whole stage embarrassingly
    parallel, which is the shape that survives 100 TB."""
    from pyspark.ml.feature import NGram

    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    ).repartition(par, "doc_id")
    ng = NGram(n=n, inputCol="_toks", outputCol="_ng").transform(base)
    return ng.select("doc_id", F.array_distinct("_ng").alias("sh")).filter(F.size("sh") > 0)


def minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The affine permutation coefficients, exposed so the DuckDB oracle
    can inline the exact same constants."""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MINHASH_P), rnd.randrange(0, _MINHASH_P)) for _ in range(num_hashes)]


def _minhash_mins(
    docs: DataFrame, num_hashes: int, seed: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc_id, _m0.._m{H-1}) per-doc minima of the affine permutations.

    ``hash_fn="xxhash64"`` is the production path (one JVM hash per
    shingle). ``"md5"`` derives the base hash from the first 15 hex
    chars of md5 — slower, but bit-reproducible in any engine with md5,
    which is what lets the full MinHash pipeline run under the SQL
    oracle gate."""
    coeffs = minhash_coeffs(num_hashes, seed)
    if hash_fn == "md5":
        base = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint")
    else:
        base = F.xxhash64("s", F.lit(seed))
    exploded = docs.select("doc_id", F.explode("sh").alias("s")).withColumn(
        "_h", F.pmod(base, F.lit(_MINHASH_P))
    )
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("_h") + F.lit(b), F.lit(_MINHASH_P))).alias(f"_m{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )


def hot_buckets(bands: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """The over-cap LSH bucket keys with their member counts:
    (key_cols..., n_members) for every bucket with more than ``cap``
    rows. This is the audit surface for :func:`drop_hot_buckets` —
    count it, log it, or write it next to the dedup output so a capped
    run records exactly which buckets (and how many members) it
    skipped, instead of losing them silently."""
    return (
        bands.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > cap)
    )


def drop_hot_buckets(bands: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Drop every row belonging to an LSH bucket with more than ``cap``
    members, before the bucket self-join.

    A bucket of size m yields m·(m-1)/2 candidate pairs, so one hot
    bucket (a boilerplate shingle/band value shared by thousands of
    documents) turns the band join quadratic — the classic skew killer
    at corpus scale. The filter is an anti-join against the over-cap
    key list, deliberately NOT broadcast-hinted: over-cap keys are
    bounded by rows/cap per band, so at corpus scale with a small cap
    the list can reach millions of keys — past broadcast comfort (the
    same reasoning that keeps the C4 line-dedup hot set unhinted).
    AQE broadcasts it when it is genuinely small and falls back to a
    hash-key shuffle when it is not.

    RECALL CAVEAT: dropping a bucket drops ALL of its candidate pairs —
    a cluster of thousands of near-identical documents lands every
    member in the same over-cap buckets and yields ZERO pairs. That is
    only safe when the exact tier (:func:`drop_exact_duplicates`) ran
    first, so over-cap buckets are boilerplate collisions rather than
    genuine duplicate clusters. The pair operators therefore leave the
    cap OFF by default (opt-in); capped pipelines should audit
    :func:`hot_buckets` for what a run skipped."""
    hot = hot_buckets(bands, key_cols, cap).select(*key_cols)
    return bands.join(hot, key_cols, "left_anti")


def minhash_near_duplicates(
    df: DataFrame,
    jaccard_threshold: float = 0.5,
    n: int = 3,
    num_hash_tables: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    shingle → native MinHash signatures (``minhash_signatures``) →
    OR-amplified banding with one minhash per band (r=1, b=num_hash_tables,
    the same scheme as pyspark.ml's MinHashLSH: miss probability
    (1-j)^b, i.e. ~1.5e-5 for j=0.5 at b=8... per-band equality joins
    only) → candidate pairs → re-check with exact Jaccard on the
    shingle sets so the output has no false positives (LSH recall is
    the only approximation). Output: (id1, id2, jaccard).

    Scale notes: the band join shuffles (band_index, minhash) keys —
    tiny fixed-width rows, never the text. Hot buckets (a boilerplate
    shingle that is the min for thousands of docs) are the skew risk:
    ``max_bucket_size`` drops any (band, minhash) bucket larger than
    the cap before pairing (see :func:`drop_hot_buckets`), bounding
    candidates per bucket at cap²/2 regardless of corpus skew. OPT-IN
    (default None) because a capped run yields zero pairs for any
    duplicate cluster bigger than the cap: only enable it when the
    exact tier (:func:`drop_exact_duplicates`) already ran, and audit
    :func:`hot_buckets` for what was skipped. Two intermediates are
    cached because the returned plan consumes each several times: the
    shingle table (signatures + both sides of the verify join) and the
    band table (hot-bucket count + both sides of the band self-join —
    without this the num_hashes-way min aggregation re-runs per
    consumer). Call ``result.release_caches()`` when done; the 100 TB
    spelling of the same decision is persisting the shingle/signature
    table to disk once and reusing it."""
    scored, caches = _lsh_candidate_jaccard(
        df, n, num_hash_tables, text_col, id_col, seed, hash_fn, max_bucket_size
    )
    result = scored.filter(F.col("jaccard") >= jaccard_threshold).select(
        "id1", "id2", "jaccard"
    )
    return release_after(result, *caches)


def _lsh_candidate_jaccard(
    df: DataFrame,
    n: int,
    num_hash_tables: int,
    text_col: str,
    id_col: str,
    seed: int,
    hash_fn: str,
    max_bucket_size: int | None,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """The shared LSH candidate + exact-verify stage: every band-
    collision pair with its exact shingle Jaccard — ``(id1, id2,
    jaccard)``, unfiltered. Callers filter (near-dup mining) or label
    (contrastive mining); the returned caches must ride a
    ``release_after``."""
    sh = _shingle_table(df, n=n, text_col=text_col, id_col=id_col).cache()
    mins = _minhash_mins(sh, num_hashes=num_hash_tables, seed=seed, hash_fn=hash_fn)
    banded = mins.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"_m{i}") for i in range(num_hash_tables)])).alias(
            "band", "mh"
        ),
    ).cache()
    bands = banded
    if max_bucket_size is not None:
        # cache the post-cap table too: both self-join sides consume it,
        # and without this each side re-runs the hot-bucket count +
        # anti-join (cheap per pass, but it's the hot path)
        bands = drop_hot_buckets(banded, ["band", "mh"], max_bucket_size).cache()
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "mh"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    pairs = (
        cand.join(sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2")), "id2")
    )
    shared = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - shared
    scored = pairs.withColumn("jaccard", shared / union)
    return scored, (sh, banded, bands)


def contrastive_pairs(
    df: DataFrame,
    jaccard_threshold: float = 0.5,
    n: int = 3,
    num_hash_tables: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Contrastive training pairs for embedding models, mined from the
    SAME MinHash-LSH pass as near-dup detection: ``(id1, id2, jaccard,
    label)`` where band-collision candidates verifying at exact
    Jaccard ≥ τ are ``'pos'`` (anchor/positive pairs) and candidates
    that collided but FAILED the verify are ``'neg'`` — HARD negatives
    by construction (they share enough rare shingles to collide in a
    band, which is exactly the "lexically close but not duplicate"
    band that random negatives never sample). The standard recipe for
    contrastive encoder data (SimCSE-style hard-negative mining,
    E5-style consistency pairs) as one engine pass.

    Scale shape: identical to :func:`minhash_near_duplicates` — the
    labeling replaces the filter, so the 100 TB cost is the SAME LSH
    pass a dedup run already pays; a pipeline can emit dedup decisions
    AND contrastive pairs from one scan. Call ``release_caches()``
    when done."""
    scored, caches = _lsh_candidate_jaccard(
        df, n, num_hash_tables, text_col, id_col, seed, hash_fn, max_bucket_size
    )
    result = scored.select(
        "id1",
        "id2",
        "jaccard",
        F.when(F.col("jaccard") >= jaccard_threshold, F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("label"),
    )
    return release_after(result, *caches)


def minhash_index(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persistable dedup index: (doc_id, sig: array<bigint>) — one
    fixed-width row per document, num_hashes longs each. At 100 TB this
    is what you write to parquet once (bucketed by doc_id or by band
    key) so tomorrow's batch dedups against years of corpus WITHOUT
    touching corpus text again: :func:`minhash_match_index` needs only
    this table. Same signature scheme as
    :func:`minhash_near_duplicates` (identical coefficients per seed),
    so index and batch pipelines stay interchangeable."""
    sh = _shingle_table(df, n=n, text_col=text_col, id_col=id_col)
    mins = _minhash_mins(sh, num_hashes=num_hashes, seed=seed, hash_fn=hash_fn)
    sig = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    return mins.select("doc_id", sig.alias("sig"))


def minhash_match_index(
    new_docs: DataFrame,
    index: DataFrame,
    est_threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental dedup: match a NEW document batch against a
    persisted :func:`minhash_index` — the daily-ingest shape at corpus
    scale. Output: (new_id, indexed_id, est_jaccard) for every pair
    sharing at least one LSH band, with estimated Jaccard (the
    fraction of agreeing minhashes, the standard signature-space
    estimator) at or above ``est_threshold``.

    Scale shape: corpus text never moves — only the index's
    fixed-width signature rows band-join against the (small) new
    batch's signatures. The estimator's granularity is 1/num_hashes;
    raise num_hashes for finer thresholds (the index schema carries
    it). Exact-Jaccard verification is impossible here by design
    (the index has no shingles); route matched pairs to
    :func:`ngram_jaccard_pairs` on just the matched documents when
    exactness matters. ``max_bucket_size``: same opt-in skew cap as
    the batch tiers."""
    # Both inputs are consumed twice (band explode + signature join).
    # The batch signatures are operator-built, so cache them here; the
    # index is CALLER-owned — only cache it when the caller hasn't
    # already persisted it (a daily pipeline persists the index once
    # and reuses it across batches; force-caching would make the first
    # call's release_caches() silently unpersist the caller's copy,
    # and at corpus scale a years-of-ingest index doesn't belong in
    # executor memory at all — it stays a bucketed parquet scan).
    # release_caches() releases only operator-created caches.
    new_sig = minhash_index(
        new_docs, n=n, num_hashes=num_hashes, text_col=text_col,
        id_col=id_col, seed=seed, hash_fn=hash_fn,
    ).cache()
    owned = [new_sig]
    if index.storageLevel == StorageLevel.NONE:
        index = index.cache()
        owned.append(index)
    result = match_signature_tables(
        new_sig, index,
        est_threshold=est_threshold, num_hashes=num_hashes,
        max_bucket_size=max_bucket_size,
    )
    return release_after(result, *owned)


def match_signature_tables(
    new_sig: DataFrame,
    index: DataFrame,
    est_threshold: float = 0.5,
    num_hashes: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The signature-level core of :func:`minhash_match_index`: both
    sides are already (doc_id, sig) tables — band-explode each,
    equality-join on (band, minhash), estimate Jaccard as the
    agreeing-minhash fraction. Exposed separately so pipelines that
    already HOLD signatures (the streaming compaction loop, an
    index-vs-index audit) never recompute them from text. Output:
    (new_id, indexed_id, est_jaccard ≥ est_threshold)."""
    nb = new_sig.select(
        F.col("doc_id").alias("new_id"),
        F.posexplode("sig").alias("band", "mh"),
    )
    ib = index.select(
        F.col("doc_id").alias("indexed_id"),
        F.posexplode("sig").alias("band", "mh"),
    )
    if max_bucket_size is not None:
        ib = drop_hot_buckets(ib, ["band", "mh"], max_bucket_size)
    cand = (
        nb.join(ib, ["band", "mh"])
        .select("new_id", "indexed_id")
        .distinct()
    )
    pairs = cand.join(
        new_sig.select(F.col("doc_id").alias("new_id"), F.col("sig").alias("nsig")),
        "new_id",
    ).join(
        index.select(F.col("doc_id").alias("indexed_id"), F.col("sig").alias("isig")),
        "indexed_id",
    )
    agree = F.size(
        F.filter(F.zip_with("nsig", "isig", lambda a, b: a == b), lambda x: x)
    )
    est = (agree / F.lit(float(num_hashes))).alias("est_jaccard")
    return (
        pairs.select("new_id", "indexed_id", est)
        .filter(F.col("est_jaccard") >= est_threshold)
    )


def merge_into_index(
    new_sig: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Index compaction — the write path of the incremental-dedup loop:
    fold a new batch's :func:`minhash_index` signatures INTO the
    persisted index, with dedup-on-``id_col`` semantics (the index
    wins: a doc_id already present keeps its existing signature, so
    re-ingesting a document is idempotent and the index row for a
    given doc_id never churns). Output: the merged index, same schema
    as :func:`minhash_index` — (doc_id, sig).

    The daily pipeline is match → merge → persist:
    ``minhash_match_index(batch, index)`` finds yesterday-vs-today
    duplicates, then ``merge_into_index(minhash_index(batch), index)``
    is what tomorrow's batch matches against.

    Scale shape: one left-anti join of the (small) batch against the
    index on the id — at corpus scale the index side is a bucketed
    parquet table, so the anti-join is a per-bucket probe, and the
    "merge" writes ONLY the surviving delta rows as new files next to
    the existing index partitions (append, never rewrite). The union
    here is the logical spelling; no index row is shuffled or
    rewritten by it."""
    delta = new_sig.join(index.select(id_col), id_col, "left_anti")
    return index.unionByName(delta)


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cleaned corpus from a near-dup pair list: drop every document
    that has a near-duplicate with a smaller id (keep-first policy —
    the standard web-dedup representative choice, deterministic).

    ``pairs`` is any (id1, id2) output with id1 < id2 from the tiers
    above. A left-anti join on id2 — one shuffle on the id, no text
    movement. Note this drops per-EDGE, not per connected component: in
    a chain a→b→c, b and c both drop (they each have a smaller-id
    neighbor), which is the conservative choice for training-data
    dedup (never keeps two documents that are near-dups of each
    other)."""
    victims = pairs.select(F.col("id2").alias(id_col)).distinct()
    return df.join(victims, id_col, "left_anti")


def drop_near_duplicates_by_cluster(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-aware near-dup removal: label connected components over
    the pair graph, keep the highest-``quality_col`` member per cluster
    (ties to lowest id), drop the rest. The corpus transform behind the
    ``dedup_cluster_representatives`` report — use it instead of
    :func:`drop_near_duplicates` when duplicates differ in completeness
    and "keep the smallest id" would throw away the best copy.
    Documents not in any pair always survive."""
    labels = connected_component_labels(pairs, id_col=id_col)
    ranked = (
        df.join(labels, id_col)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.col(quality_col).desc(), F.col(id_col)
                )
            ),
        )
    )
    victims = ranked.filter(F.col("_rn") > 1).select(id_col)
    result = df.join(victims, id_col, "left_anti")
    # propagate the label table's cache release to this result
    result.release_caches = labels.release_caches
    return result


def connected_component_labels(
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every
    vertex gets ``component`` = the smallest id reachable from it, so a
    whole duplicate *cluster* (chains included) shares one label — the
    group-level upgrade of :func:`drop_near_duplicates`'s per-edge rule.
    Output: (id_col, component) for every vertex that appears in a pair.

    Iterative min-label propagation WITH path shortcutting: each round
    (a) pulls the min label across edges, then (b) replaces every
    vertex's label by its label's own label — pointer doubling, so the
    distance a min label travels doubles per round and convergence is
    O(log diameter) instead of O(diameter). Dedup clusters are shallow,
    but adversarially chain-shaped graphs (k docs each a near-dup of
    the next) would otherwise need k rounds. Each round materializes
    through a checkpoint — caching alone keeps the DATA but the
    logical plan still grows per round, and ~60 uncheckpointed rounds
    overflow the planner's tree walk (found the hard way on a 64-chain).
    At 1000-executor scale this is the standard Pregel-style CC with
    the two-phase shortcut of large-star/small-star algorithms.

    Each round's checkpoint is :func:`~auraverse_etl_pipeline_spark.
    operators.caching.cut` (fault-tolerant when a checkpoint dir is set)."""
    # cache the pair list first: the bidirectional union consumes it
    # twice, and upstream pair generation (a shingle self-join) is the
    # expensive part of the whole operator
    pairs = pairs.select("id1", "id2").cache()
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    edges = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .cache()
    )
    labels = cut(
        edges.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    )
    # Convergence probe: labels are monotonically non-increasing, so the
    # label-sum strictly decreases until the fixpoint — one cheap
    # aggregate per round instead of an old-vs-new join.
    label_sum = labels.agg(F.sum("component")).first()[0]
    # That action materialized edges into cache, so the pair list has
    # been consumed for good — release it now.
    pairs.unpersist()
    while True:
        neighbor = edges.join(labels, edges.dst == labels.id).select(
            F.col("src").alias("id"), "component"
        )
        pulled = (
            labels.unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling: component <- component's own component.
        # Every label value is itself a vertex id, so the lookup join
        # always hits; left+coalesce keeps it robust anyway.
        lookup = pulled.select(
            F.col("id").alias("cid"), F.col("component").alias("cc")
        )
        new_labels = cut(
            pulled.join(lookup, pulled.component == lookup.cid, "left")
            .select("id", F.coalesce("cc", "component").alias("component"))
        )
        new_sum = new_labels.agg(F.sum("component")).first()[0]
        labels = new_labels
        if new_sum == label_sum:
            break
        label_sum = new_sum
    edges.unpersist()
    # checkpoint storage is reclaimed when the result is GC'd; the
    # (no-op) release handle keeps the operator-family contract that
    # every result exposes release_caches()
    return release_after(labels.select(F.col("id").alias(id_col), "component"))


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Test-set decontamination: drop every training document sharing at
    least one word-``n``-gram with the evaluation corpus (the standard
    benchmark-leakage guard for LLM training data; n=8..13 in practice).

    Scale shape: the eval set is tiny relative to training data (KBs of
    benchmarks vs TBs of corpus), so its distinct shingle set is
    broadcast — the 100 TB side is filtered map-side with ZERO shuffle
    of training text. Documents shorter than ``n`` tokens produce no
    shingles and always survive."""
    ev = (
        _shingle_table(eval_docs, n=n, text_col=text_col, id_col=id_col)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    tr_sh = _shingle_table(train, n=n, text_col=text_col, id_col=id_col)
    hits = (
        tr_sh.select("doc_id", F.explode("sh").alias("shingle"))
        .join(F.broadcast(ev), "shingle")
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )
    return train.join(hits, id_col, "left_anti")


def drop_boilerplate_lines(
    df: DataFrame,
    min_doc_frequency: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level boilerplate removal (the C4/RefinedWeb curation
    stage): delete every line that occurs in at least
    ``min_doc_frequency`` distinct documents — navigation chrome,
    cookie banners, copyright footers — and reassemble each document
    from its surviving lines in original order. Output:
    (id_col, text_col, n_lines_kept, n_lines_dropped).

    Scale shape: the document-frequency aggregation groups on
    ``md5(line)`` — a fixed-width 32-char key, partial-aggregated
    map-side, so the shuffle carries hashes and counts, never the line
    text; the line table then left-joins the over-threshold hash set.
    That set is NOT broadcast-hinted: on a web-scale corpus the
    repeated tail is tens of millions of lines (C4 dropped billions) —
    far past the broadcast limit — so the join is left to AQE, which
    broadcasts when the set is genuinely small and falls back to a
    hash-key shuffle when it is not. Reassembly is one groupBy per
    document over (position, line) structs — ``array_sort`` on the
    struct restores original order without a sort exchange.
    Exact-match line dedup only; near-dup boilerplate belongs to the
    MinHash/SimHash tiers above."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    hot = (
        lines.filter(F.trim("line") != "")
        .groupBy(F.md5("line").alias("lh"))
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_doc_frequency)
        .select("lh")
    )
    tagged = lines.join(hot, F.md5(F.col("line")) == F.col("lh"), "left")
    kept = tagged.withColumn("_drop", F.col("lh").isNotNull())
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("_drop"), F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias(text_col),
            F.sum(F.when(~F.col("_drop"), 1).otherwise(0)).alias("n_lines_kept"),
            F.sum(F.when(F.col("_drop"), 1).otherwise(0)).alias("n_lines_dropped"),
        )
        .select(
            F.col("doc_id").alias(id_col), text_col, "n_lines_kept", "n_lines_dropped"
        )
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """60-bit SimHash per document from per-token md5s (bit-majority
    vote). Output: (doc_id, simhash).

    Spelled as explode + 60 codegen'd ``sum()`` bit-votes per doc (one
    partial-aggregated shuffle of 60 small ints per doc) — the nested
    ``aggregate()`` HOF form evaluates interpreted and re-inlines the
    token expression per bit (same lesson as MinHash: measured ~10×
    slower). The corpus is spread across cores first (small inputs
    arrive as one split)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")).repartition(
        par, "doc_id"
    )
    toks = F.array_distinct(F.split(F.trim(F.col("_t")), r"\s+"))
    exploded = base.select("doc_id", F.explode(toks).alias("tok")).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    )
    votes = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(60)
        ]
    )
    sim = None
    for b in range(60):
        bit = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    max_hamming: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates via band-equality joins.

    Documents agreeing on any 15-bit band become a candidate pair —
    guaranteed to include every pair with Hamming distance < n_bands.
    Output: (id1, id2, hamming). Equality joins only; no O(n²).

    ``max_hamming`` prunes BEFORE the dedup-distinct: on corpora with a
    shared vocabulary the simhashes cluster and band collisions are
    plentiful, so filtering on the (cheap, already-computed) Hamming
    distance first keeps the distinct's shuffle proportional to the
    answer, not to the collision count.

    ``max_bucket_size`` drops band buckets larger than the cap before
    the self-join (:func:`drop_hot_buckets`) — the same skew guard as
    the MinHash tier. OPT-IN (default None): a capped run yields zero
    pairs for duplicate clusters bigger than the cap, so enable it only
    after the exact tier ran, and audit :func:`hot_buckets`."""
    # The band table (which embeds the 60-vote aggregation) feeds the
    # hot-bucket count plus both sides of the band self-join — cache it
    # so the aggregation runs once (cf. minhash band table), and pair
    # the release on the returned result.
    sig = simhash_signatures(df, text_col, id_col)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.concat_ws(":", F.lit(i), F.shiftrightunsigned("simhash", i * 15).bitwiseAND(F.lit((1 << 15) - 1)))
                for i in range(n_bands)
            ])
        ).alias("band"),
    ).cache()
    bands = banded
    if max_bucket_size is not None:
        # post-cap table also has two consumers (both self-join sides);
        # cache it so the hot-bucket count + anti-join run once
        bands = drop_hot_buckets(banded, ["band"], max_bucket_size).cache()
    a = bands.select(F.col("doc_id").alias("id1"), F.col("simhash").alias("s1"), "band")
    b = bands.select(F.col("doc_id").alias("id2"), F.col("simhash").alias("s2"), "band")
    pairs = (
        a.join(b, "band")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"))
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return release_after(pairs.distinct(), banded, bands)


def lsh_quality_audit(
    df: DataFrame,
    jaccard_threshold: float = 0.5,
    n: int = 3,
    num_hash_tables: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Evaluation harness for the MinHash-LSH tier, in-engine: one row
    ``(n_truth, n_candidates, tp, fp, fn, candidate_precision,
    recall)`` comparing the band join's CANDIDATE pairs against exact
    ground truth (every pair with exact shingle Jaccard ≥ threshold).

    A pipeline owner tunes (num_hash_tables, shingle n, caps) against
    measured recall, not theory; this makes that measurement a query.
    ``candidate_precision`` is the verify-stage cost signal (what
    fraction of candidate pairs survive exact verification);
    ``recall`` is the loss signal (true pairs the banding never saw —
    after verification, recall is the ONLY approximation in the tier).

    Run it on a bounded SLICE (the caller filters ids): ground truth
    needs the sparse all-pairs shingle join, which is exactly the cost
    LSH exists to avoid — a sampled audit slice is the point.

    Plan: ONE shingle table cached and consumed by signatures, the
    sparse truth join, and both jaccard lookups; the pair universe is
    (pairs sharing ≥1 shingle) FULL OUTER (band candidates) — a
    candidate pair sharing zero shingles (affine hash collision)
    counts as a false positive with jaccard 0. All counts exact
    BIGINTs; ratios are the only doubles."""
    sh = _shingle_table(df, n=n, text_col=text_col, id_col=id_col).cache()
    mins = _minhash_mins(sh, num_hashes=num_hash_tables, seed=seed, hash_fn=hash_fn)
    banded = mins.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"_m{i}") for i in range(num_hash_tables)])
        ).alias("band", "mh"),
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "mh"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
        .withColumn("is_cand", F.lit(True))
    )
    ex = sh.select("doc_id", F.size("sh").cast("bigint").alias("n_sh"),
                   F.explode("sh").alias("shingle"))
    sharing = (
        ex.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"), "shingle")
        .join(
            ex.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"), "shingle"),
            "shingle",
        )
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2", "n1", "n2")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("n1") + F.col("n2") - F.col("n_shared")),
        )
        .select("id1", "id2", "jaccard")
    )
    universe = sharing.join(cand, ["id1", "id2"], "full_outer").select(
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
        F.coalesce(F.col("is_cand"), F.lit(False)).alias("is_cand"),
    )
    thr = F.lit(jaccard_threshold)
    counts = universe.agg(
        F.sum(F.when(F.col("jaccard") >= thr, 1).otherwise(0))
        .cast("bigint")
        .alias("n_truth"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("is_cand") & (F.col("jaccard") >= thr), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("is_cand") & (F.col("jaccard") < thr), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~F.col("is_cand") & (F.col("jaccard") >= thr), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    result = counts.select(
        "n_truth",
        "n_candidates",
        "tp",
        "fp",
        "fn",
        # NULL, not an ANSI divide-by-zero, when a slice has no
        # candidates / no true pairs (same CASE spelling as the oracle)
        F.when(
            F.col("n_candidates") > 0,
            F.col("tp").cast("double") / F.col("n_candidates").cast("double"),
        ).alias("candidate_precision"),
        F.when(
            F.col("n_truth") > 0,
            F.col("tp").cast("double") / F.col("n_truth").cast("double"),
        ).alias("recall"),
    )
    return release_after(result, sh)



def _frequency_ordered_prefix(sh, threshold: float):
    """(doc_id, shingle) PREFIX rows under the AllPairs global order
    (ascending document frequency, shingle tie-break): each document
    keeps its first ``|S| − ⌈τ|S|⌉ + 1`` rarest shingles. Shared by the
    Jaccard prefix join (both sides prefixed) and the containment join
    (contained side only) — one spelling, one plan shape, one guard.
    Threshold cost curves for both consumers are measured in SCALE.md
    (round 7): sublinear at τ≥0.8, superlinear-trending at τ=0.5 —
    low thresholds belong to the MinHash tier.
    ``sh`` must carry (doc_id, sh array, sz bigint)."""
    ex = sh.select("doc_id", "sz", F.explode("sh").alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(
        F.count("*").cast("bigint").alias("df_global")
    )
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    w = Window.partitionBy("doc_id").orderBy("df_global", "shingle")
    return (
        ex.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= plen)
        .select("doc_id", "shingle")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-recall similarity join via PREFIX FILTERING (Chaudhuri /
    Bayardo AllPairs): every pair with shingle Jaccard ≥ ``threshold``
    is found — no LSH miss probability — yet only prefix shingles are
    joined, not full sets.

    The guarantee: under any global total order, ``J(A,B) ≥ τ ⇒
    |A∩B| ≥ max(⌈τ|A|⌉, ⌈τ|B|⌉)``, and two sets with overlap ≥ o must
    collide within their first ``|S| − o + 1`` elements — so indexing
    only the first ``|S| − ⌈τ|S|⌉ + 1`` sorted shingles per document
    still surfaces every qualifying pair, while high thresholds prune
    most of the join volume (τ=0.9 indexes ~10% of each set). The
    global order is **ascending document frequency** (tie-break on the
    shingle string) — the canonical AllPairs/PPJoin ordering: prefixes
    then hold each document's RAREST shingles, so a corpus-common
    shingle never lands in thousands of prefixes and the candidate
    join stays near-linear (measured on the identical 100k-doc 20×
    stress: lexicographic order 100 s / 42× ratio at τ=0.5 vs
    frequency order 47.7 s / 18.6× — sublinear in data; SCALE.md).
    The order is a pure function of the data, so it is deterministic
    and oracle-replayable. The complement of the MinHash tier: LSH
    trades recall for speed, prefix filtering keeps recall 1.0 and
    pays join cost that grows as τ falls — the default τ=0.8 sits in
    this operator's intended regime; below ~0.7 use the MinHash tier
    (:func:`lsh_quality_audit` is the measurement that picks, and
    :func:`prefix_jaccard_join_audit` computes this join's EXACT
    candidate volume for a corpus + threshold without running it —
    measure the low-τ blow-up before paying for it).

    Plan: one cached shingle table (df-count scan, prefix window, both
    verify lookups), a vocab-sized document-frequency aggregate joined
    back onto the exploded shingles, a per-doc row_number window to cut
    the prefix, a shingle-equality candidate join on PREFIXES only, and
    the exact verify on candidates — same discipline as the sparse
    join (hashes/short strings move, text doesn't). The prefix table
    is itself cached: both sides of the candidate self-join consume it,
    and unlike the old slice-based prefix it embeds the df aggregate +
    enrich join + window — recomputing that per side doubles the most
    expensive stage. Output: (id1, id2, jaccard ≥ threshold).

    .. versionchanged:: round 6
       Default ``threshold`` moved 0.5 → 0.8 (the operator's intended
       exact-recall regime; below ~0.7 the MinHash tier is the right
       tool) and the prefix order moved lexicographic → ascending
       document frequency."""
    sh = (
        _shingle_table(df, n=n, text_col=text_col, id_col=id_col)
        .withColumn("sz", F.size("sh").cast("bigint"))
        .cache()
    )
    prefix = _frequency_ordered_prefix(sh, threshold).cache()
    cand = (
        prefix.select(F.col("doc_id").alias("id1"), "shingle")
        .join(prefix.select(F.col("doc_id").alias("id2"), "shingle"), "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1")), "id1"
    ).join(sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2")), "id2")
    shared = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - shared
    result = (
        pairs.withColumn("jaccard", shared / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return release_after(result, sh, prefix)


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-recall shingle CONTAINMENT join: every DIRECTED pair with
    ``C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ threshold`` — the asymmetric
    relation Jaccard misses: a paragraph quoted inside a long article,
    a test document embedded in a training page, a subset shard
    re-ingested into a superset crawl. Jaccard of a 100-word quote vs a
    5,000-word article is ~0.02; its containment is ~1.0 — which is why
    decontamination and quote-tracing gate on containment, not Jaccard
    (Broder's original resemblance/containment pairing).

    Exact recall by the same prefix-filtering argument as
    :func:`prefix_filter_jaccard_pairs`, applied one-sided: C(A→B) ≥ τ
    forces ``|A∩B| ≥ ⌈τ|A|⌉``, so under ANY global shingle order A must
    collide with B inside A's first ``|A| − ⌈τ|A|⌉ + 1`` shingles —
    only the CONTAINED side gets a prefix; the container side indexes
    every shingle (containment puts no lower bound on |B|'s overlap
    share, so B cannot be pruned). Ascending-document-frequency order
    keeps A's prefix to its rarest shingles, so a corpus-common shingle
    never fans a prefix across the whole container index (the measured
    AllPairs result, SCALE.md).

    Plan: one cached shingle table (prefix build + container explode +
    both verify lookups), the df-ordered row_number prefix cut on the
    contained side, shingle-equality join prefix × full index, distinct
    directed candidates, exact verify. Output: (contained_id,
    container_id, containment), contained_id ≠ container_id.

    COST REGIME: candidate volume grows as τ falls (τ=0.5 measured
    ~2.4× the τ=0.9 runtime at 20× scale, superlinear-trending —
    SCALE.md round 7); below ~0.7 the MinHash tier is the right tool.
    :func:`containment_join_audit` is the runtime guard: it computes
    the EXACT candidate join volume and prefix fraction for a corpus +
    threshold from two vocab-sized aggregates — without running the
    join — so a pipeline can measure before it pays (the
    :func:`hot_buckets` discipline)."""
    sh = (
        _shingle_table(df, n=n, text_col=text_col, id_col=id_col)
        .withColumn("sz", F.size("sh").cast("bigint"))
        .cache()
    )
    ex = sh.select("doc_id", "sz", F.explode("sh").alias("shingle"))
    prefix = _frequency_ordered_prefix(sh, threshold).select(
        F.col("doc_id").alias("contained_id"), "shingle"
    )
    cand = (
        prefix.join(
            ex.select(F.col("doc_id").alias("container_id"), "shingle"), "shingle"
        )
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("contained_id"), F.col("sh").alias("sh_a")),
        "contained_id",
    ).join(
        sh.select(F.col("doc_id").alias("container_id"), F.col("sh").alias("sh_b")),
        "container_id",
    )
    result = (
        pairs.withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a"),
        )
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )
    return release_after(result, sh)


def prefix_jaccard_join_audit(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The two-sided twin of :func:`containment_join_audit`: exact
    candidate-volume audit for :func:`prefix_filter_jaccard_pairs`.
    The prefix × prefix self-join on shingle ``s`` with ``id1 < id2``
    emits exactly ``Σ_s p(s)·(p(s)−1)/2`` rows (p = prefix occurrences
    of s) — computable from ONE vocab-sized aggregate, never
    materializing a candidate. Same columns as the containment audit
    (``index_shingles`` is the full exploded count; the fraction is
    the τ-curve's driver on BOTH join sides here)."""
    sh = (
        _shingle_table(df, n=n, text_col=text_col, id_col=id_col)
        .withColumn("sz", F.size("sh").cast("bigint"))
        .cache()
    )
    p_cnt = (
        _frequency_ordered_prefix(sh, threshold)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("p_n"))
    )
    est = p_cnt.agg(
        # Σ p(p−1) is even; halve with integer DIV so the count stays
        # exact at any scale (a float halve re-rounds past 2^53)
        F.expr("CAST(sum(p_n * (p_n - 1)) DIV 2 AS BIGINT)").alias(
            "candidate_rows"
        ),
        F.sum("p_n").cast("bigint").alias("prefix_shingles"),
    )
    totals = sh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("sz").cast("bigint").alias("index_shingles"),
    )
    return release_after(
        totals.crossJoin(F.broadcast(est)).select(
            "n_docs",
            "index_shingles",
            "prefix_shingles",
            (F.col("prefix_shingles") / F.col("index_shingles")).alias(
                "prefix_fraction"
            ),
            "candidate_rows",
            (F.col("candidate_rows") / F.col("n_docs")).alias(
                "candidates_per_doc"
            ),
        ),
        sh,
    )


def containment_join_audit(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row cost audit for :func:`containment_pairs` — the runtime
    guard that makes low-τ misuse VISIBLE before a pipeline pays for
    it, mirroring :func:`hot_buckets` for the LSH tier.

    ``candidate_rows`` is EXACT, not an estimate: the prefix × index
    shingle-equality join emits exactly ``Σ_s p(s)·i(s)`` rows (p =
    prefix occurrences of shingle s, i = index occurrences), of which
    exactly one per prefix row is a self-match (shingles are distinct
    per document, and every prefix shingle is in its own document's
    index) — so the pre-distinct candidate volume is computable from
    two VOCAB-sized count aggregates joined on shingle, never
    materializing a single candidate. A caller seeing
    ``candidates_per_doc`` blow past the corpus size knows the
    threshold belongs to the MinHash tier before running the join.

    Columns: ``n_docs``, ``index_shingles`` (total exploded),
    ``prefix_shingles``, ``prefix_fraction`` (the share of the corpus
    the contained side actually indexes — the τ-curve's driver),
    ``candidate_rows`` (exact, self-matches removed),
    ``candidates_per_doc``."""
    sh = (
        _shingle_table(df, n=n, text_col=text_col, id_col=id_col)
        .withColumn("sz", F.size("sh").cast("bigint"))
        .cache()
    )
    ex = sh.select("doc_id", F.explode("sh").alias("shingle"))
    p_cnt = (
        _frequency_ordered_prefix(sh, threshold)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("p_n"))
    )
    i_cnt = ex.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("i_n")
    )
    est = p_cnt.join(i_cnt, "shingle").agg(
        F.sum(F.col("p_n") * F.col("i_n")).cast("bigint").alias("cand_with_self"),
        F.sum("p_n").cast("bigint").alias("prefix_shingles"),
    )
    totals = sh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("sz").cast("bigint").alias("index_shingles"),
    )
    result = totals.crossJoin(F.broadcast(est)).select(
        "n_docs",
        "index_shingles",
        "prefix_shingles",
        (F.col("prefix_shingles") / F.col("index_shingles")).alias(
            "prefix_fraction"
        ),
        (F.col("cand_with_self") - F.col("prefix_shingles"))
        .cast("bigint")
        .alias("candidate_rows"),
        (
            (F.col("cand_with_self") - F.col("prefix_shingles"))
            / F.col("n_docs")
        ).alias("candidates_per_doc"),
    )
    return release_after(result, sh)


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-granularity exact dedup (the CCNet curation stage —
    CCNet dedups at PARAGRAPH hashes, not whole documents): every
    non-blank paragraph occurring more than once corpus-wide survives
    only at its FIRST occurrence (lowest (doc_id, position)); all
    later copies are deleted and each document reassembles from its
    surviving paragraphs in original order. Keep-first is the
    difference from :func:`drop_boilerplate_lines`, which deletes
    EVERY copy of an over-threshold line — boilerplate removal loses
    the content, paragraph dedup keeps exactly one copy.

    Output: (id_col, text_col, n_paras_kept, n_paras_dropped).

    Scale shape: the keep-first aggregation groups on
    ``md5(paragraph)`` — fixed-width keys, partial-aggregated
    map-side, and ``MIN(struct(doc_id, pos))`` is one order-free
    aggregate, so the shuffle carries hashes + two ints, never text;
    the winner table joins back on the hash (left to AQE — at web
    scale the duplicated-paragraph set outgrows any broadcast limit).
    Reassembly is the line-dedup groupBy: ``array_sort`` over
    (position, paragraph) structs, no sort exchange. Blank paragraphs
    (runs of blank lines) are formatting, not content — always kept.

    NULL text coalesces to ``''`` BEFORE the split (a NULL split yields
    zero posexplode rows, which would silently drop the document from
    the output — every document must reassemble, as one blank kept
    paragraph)."""
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n\n")).alias(
            "pos", "para"
        ),
    )
    winners = (
        paras.filter(F.trim("para") != "")
        .groupBy(F.md5("para").alias("ph"))
        .agg(F.min(F.struct("doc_id", "pos")).alias("k"))
        .select("ph", F.col("k.doc_id").alias("kdoc"), F.col("k.pos").alias("kpos"))
    )
    tagged = paras.join(winners, F.md5(F.col("para")) == F.col("ph"), "left")
    kept = tagged.withColumn(
        "_keep",
        F.col("ph").isNull()  # blank paragraph: never a dedup candidate
        | ((F.col("doc_id") == F.col("kdoc")) & (F.col("pos") == F.col("kpos"))),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("_keep"), F.struct("pos", "para")))
                    ),
                    lambda x: x["para"],
                ),
            ).alias(text_col),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_paras_kept"),
            F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).alias("n_paras_dropped"),
        )
        .select(
            F.col("doc_id").alias(id_col), text_col, "n_paras_kept", "n_paras_dropped"
        )
    )


def _positional_shingles(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(sh, base): ``sh`` is every k-token shingle occurrence WITH its
    text as (doc_id, pos, sh); ``base`` the tokenized corpus
    (doc_id, _toks). The ONE definition of "shingle" the whole
    exact-substring family shares (operators hash it, the
    :func:`hot_shingles` audit reads it) — shingling is
    :func:`_shingle_table`'s NGram path (JVM-side, per-row, no
    shuffle)."""
    from pyspark.ml.feature import NGram

    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k})")
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    ).repartition(par, "doc_id")
    ng = NGram(n=k, inputCol="_toks", outputCol="_ng").transform(base)
    return ng.select("doc_id", F.posexplode("_ng").alias("pos", "sh")), base


def _shingle_occurrences(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(occ, base): ``occ`` is every k-token shingle occurrence as
    (doc_id, pos, h=md5(shingle)) — the fixed-width projection the
    operators shuffle (never the text)."""
    sh, base = _positional_shingles(df, k, text_col, id_col)
    return sh.select("doc_id", "pos", F.md5("sh").alias("h")), base


def _covered_shingle_starts(
    df: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    boilerplate_cap: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(covered, base): ``covered`` is (doc_id, pos) — the start
    positions of k-token shingle occurrences that LOSE keep-first (every
    occurrence of a duplicated shingle except the corpus-wide first by
    (doc_id, pos); with ``boilerplate_cap`` set, ALL occurrences of any
    shingle repeated more than ``cap`` times — boilerplate loses even
    its first copy, the :func:`drop_boilerplate_lines` posture at
    shingle granularity). ``base`` is the tokenized corpus
    (doc_id, _toks), shared by both exact-substring operators.

    Scale shape: shingling is :func:`_shingle_table`'s NGram path
    (JVM-side, per-row, no shuffle); duplicate detection is ONE shuffle
    on ``md5(shingle)`` carrying (32-char hash, id, int) rows — the
    rank and the occurrence count come out of the same window exchange,
    never a join back. Hash-cluster skew IS the boilerplate skew: a
    shingle repeated millions of times sorts its whole cluster on one
    task, which is exactly when ``boilerplate_cap`` should be on (the
    cap doesn't shrink the sort, but the corpora that need it should
    have run :func:`drop_boilerplate_lines` first — documented, not
    hidden).

    ``base`` is deliberately NOT cached even though the strip operator
    consumes it twice: it is a pre-shuffle scan+split projection (the
    :func:`dedup_paragraphs` precedent), and caching the full tokenized
    corpus is the one thing that cannot fit at 100 TB."""
    occ, base = _shingle_occurrences(df, k, text_col, id_col)
    part = Window.partitionBy("h")
    ranked = occ.select(
        "doc_id",
        "pos",
        F.row_number().over(part.orderBy("doc_id", "pos")).alias("_rn"),
        F.count(F.lit(1)).over(part).alias("_cnt"),
    )
    lost = F.col("_rn") > 1
    if boilerplate_cap is not None:
        lost = lost | (F.col("_cnt") > boilerplate_cap)
    return ranked.filter(lost).select("doc_id", "pos"), base


def duplicate_token_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    boilerplate_cap: int | None = None,
) -> DataFrame:
    """Exact-substring duplication audit (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr posture, re-expressed relationally): every MAXIMAL
    token span covered by duplicated k-token shingles that lose
    keep-first — the first corpus-wide occurrence of a repeated
    passage is NOT reported; every later copy is, merged into maximal
    [span_start, span_end) intervals (overlapping and adjacent covered
    shingles coalesce, so a 200-token repeated passage reports as ONE
    span, not 181 shingle hits).

    The suffix-array machinery of the paper is a single-node
    construction; the relational equivalent at corpus scale is
    rolling k-shingles + keep-first ranking: a duplicated substring of
    length >= k is exactly a run of duplicated k-shingles, so maximal
    merged spans here = the paper's duplicated substrings, quantized
    to token (not byte) granularity. Distinct from the doc-level tiers
    (exact/MinHash/SimHash match whole documents) and from
    :func:`dedup_paragraphs` (paragraph-hash granularity, needs
    formatting to agree); this tier finds VERBATIM sub-passage reuse
    regardless of paragraph boundaries.

    Relation to the REGISTERED batch span queries
    (``operators/quality.repeated_span_report`` / ``apply_span_dedup``,
    driver-scored as ``text_span_dedup`` / ``text_span_dedup_apply``):
    those are the batch-only audit (cross-document df threshold —
    within-doc repeats invisible, every instance marked including the
    first) and a kept-gram-protected apply. THIS family is the
    occurrence-level keep-first spelling (within-doc repeats covered,
    the first occurrence never reported, a losing span cut wholesale)
    and, more importantly, the one with a DAY-2 surface:
    :func:`substring_index` / :func:`match_substring_index` /
    :func:`merge_substring_index`, the streaming compaction loop, and
    ``log_retire`` as its take-down path — the batch queries have no
    persistable index to be incremental or erasable against.

    Output: (id_col, span_start, span_end, span_tokens), token
    positions 0-based, end exclusive, all BIGINT — integer arithmetic
    end-to-end, so the DuckDB oracle replays it digit-for-digit with
    zero float-parity surface.

    Scale shape: one shuffle on md5(shingle) (the covered-starts
    window), one shuffle on doc_id (the gaps-and-islands merge —
    per-document windows, bounded by document length). Nothing
    quadratic anywhere; skew posture documented on
    :func:`_covered_shingle_starts`."""
    covered, _ = _covered_shingle_starts(df, k, text_col, id_col, boilerplate_cap)
    return _merge_covered_spans(covered, k, id_col)


def _merge_covered_spans(covered: DataFrame, k: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of covered shingle starts (doc_id, pos)
    into maximal [span_start, span_end) intervals — per-document
    windows (one shuffle on doc_id), running-max end so overlapping
    AND adjacent covered shingles coalesce."""
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = covered.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "_isl", F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").alias("_s"),
            (F.max("pos") + F.lit(k)).alias("_e"),
        )
        .select(
            # the id keeps its INPUT type (a bigint cast would NULL
            # out string ids — the id_col API is type-agnostic, like
            # dedup_paragraphs); only the positions are pinned BIGINT
            F.col("doc_id").alias(id_col),
            F.col("_s").cast("bigint").alias("span_start"),
            F.col("_e").cast("bigint").alias("span_end"),
            (F.col("_e") - F.col("_s")).cast("bigint").alias("span_tokens"),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    boilerplate_cap: int | None = None,
) -> DataFrame:
    """Cut every losing duplicated span (see
    :func:`duplicate_token_spans`) out of the corpus and reassemble
    each document from its surviving tokens in original order — the
    destructive half of the ExactSubstr tier: the first corpus-wide
    copy of a repeated passage survives verbatim, later copies are
    excised mid-document (what doc-level dedup cannot do: a document
    that quotes 300 tokens of another keeps its original prose and
    loses only the quote).

    Output: (id_col, text_col, n_tokens_kept, n_tokens_dropped) —
    EVERY input document appears, even fully-covered ones (empty
    text, n_tokens_kept 0). Reassembly is whitespace-normalized (the
    tokenizer's \\s+ split joins back with single spaces), and an
    empty/NULL document counts one empty token, consistent with
    :func:`~auraverse_etl_pipeline_spark.functions.text.token_count`.

    Scale shape: the covered-starts shuffle, plus an explode of
    factor k on COVERED starts only (the duplicated minority), a
    (doc_id, tpos) equality anti-tag join, and the
    :func:`dedup_paragraphs` reassembly aggregate (array_sort over
    collected structs — no sort exchange)."""
    covered, base = _covered_shingle_starts(df, k, text_col, id_col, boilerplate_cap)
    covered_pos = covered.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias("tpos"),
    ).distinct()
    toks_tbl = base.select("doc_id", F.posexplode("_toks").alias("tpos", "tok"))
    tagged = toks_tbl.join(
        covered_pos.withColumn("_cov", F.lit(True)), ["doc_id", "tpos"], "left"
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_cov").isNull(), F.struct("tpos", "tok"))
                        )
                    ),
                    lambda x: x["tok"],
                ),
            ).alias(text_col),
            F.sum(F.when(F.col("_cov").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_tokens_kept"),
            F.sum(F.when(F.col("_cov").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_tokens_dropped"),
        )
        .select(
            F.col("doc_id").alias(id_col),  # input-typed id, see spans
            text_col,
            "n_tokens_kept",
            "n_tokens_dropped",
        )
    )


def substring_index(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable ExactSubstr index: one row per DISTINCT k-token
    shingle hash corpus-wide, stamped with its keep-first owner —
    (h, doc_id, pos). This is what :func:`match_substring_index` probes
    tomorrow's batch against WITHOUT touching corpus text again (the
    :func:`minhash_index` day-2 contract, at shingle granularity).

    Unlike the covered-starts audit, the index keeps SINGLETON shingles
    too — a shingle unique today is exactly the one a future batch must
    be able to collide with. Size is O(distinct shingles) ≈ O(corpus
    tokens) rows of (32-char hash, id, int) — the same order as the
    paper's suffix array, and the honest cost of exact substring
    matching at any scale; persist it partitioned/bucketed by ``h`` so
    the daily probe is a per-bucket hash join. The owner columns make
    the index auditable and retireable — two postures:
    ``log_retire`` (claim erasure: delete the retired owner's rows; a
    shingle whose ONLY witness was the retired text must not keep
    matching future ingests) and :func:`reown_substring_index`
    (rebuild-equivalent: orphaned hashes re-owned from surviving
    witnesses, for when the passage legitimately lives on in other
    corpus members)."""
    occ, _ = _shingle_occurrences(df, k, text_col, id_col)
    part = Window.partitionBy("h").orderBy("doc_id", "pos")
    return (
        occ.withColumn("_rn", F.row_number().over(part))
        .filter(F.col("_rn") == 1)
        .select("h", F.col("doc_id").alias(id_col), "pos")
    )


def match_substring_index(
    new_docs: DataFrame,
    index: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ExactSubstr: the new batch's duplicated-span audit
    against a persisted :func:`substring_index` PLUS within-batch
    keep-first — the daily-ingest shape. A batch shingle occurrence is
    covered when its hash exists in the index (index-wins: the index
    owns every hash it holds, so re-ingesting yesterday's document
    covers it wall-to-wall and nothing ever retracts), or when it loses
    the within-batch keep-first rank among occurrences of a
    hash the index has never seen. Output: maximal merged spans,
    :func:`duplicate_token_spans` schema.

    Ingesting a corpus in doc_id order through any batch split
    reproduces the batch operator's spans EXACTLY (pinned): index-wins
    across batches + keep-first within a batch compose to global
    keep-first when arrival order matches id order.

    ``boilerplate_cap`` is deliberately absent here: the cap is a
    corpus-global occurrence count no single batch can see. Cap
    boilerplate at batch build time (the batch audit) or upstream
    (:func:`drop_boilerplate_lines`).

    Scale shape: corpus text never moves — one equality join of the
    batch's occurrences against the index on ``h`` (left join, the
    index side a bucketed parquet probe), one window over batch
    occurrences only, then the per-doc island merge."""
    occ, _ = _shingle_occurrences(new_docs, k, text_col, id_col)
    # the index is unique on h by construction (substring_index keeps
    # rn==1, merge is left-anti) — a .distinct() here would shuffle
    # the whole accumulated index on EVERY probe, making per-batch
    # cost grow with corpus size; and even a malformed duplicate-h
    # index only duplicates covered rows, which the island merge
    # coalesces back into the same spans
    hit = occ.join(index.select("h").withColumn("_ix", F.lit(True)), "h", "left")
    part = Window.partitionBy("h").orderBy("doc_id", "pos")
    ranked = hit.withColumn("_rn", F.row_number().over(part))
    covered = ranked.filter(
        F.col("_ix").isNotNull() | (F.col("_rn") > 1)
    ).select("doc_id", "pos")
    return _merge_covered_spans(covered, k, id_col)


def merge_substring_index(
    batch_index: DataFrame,
    index: DataFrame,
) -> DataFrame:
    """Index compaction — the write path of the incremental ExactSubstr
    loop: fold a new batch's :func:`substring_index` INTO the persisted
    index, index-wins on ``h`` (a hash already present keeps its
    existing owner row, so re-ingesting is idempotent and no index row
    ever churns). The daily pipeline is match → merge → persist, the
    :func:`merge_into_index` contract.

    Scale shape: one left-anti join of the (small) batch index against
    the persisted index on ``h`` — a per-bucket probe when the index is
    bucketed by hash — and the union is the logical spelling: persist
    appends ONLY the delta rows."""
    delta = batch_index.join(index.select("h"), "h", "left_anti")
    return index.unionByName(delta)


def exact_substring_report(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    boilerplate_cap: int | None = None,
) -> DataFrame:
    """Per-document ExactSubstr summary — the quality-signal shape the
    gates consume and the bounded-rows shape a scored query wants:
    (id_col, n_tokens, dup_tokens, n_spans, dup_pct) for EVERY
    document (zero-span docs included), where ``dup_tokens`` sums the
    maximal merged spans of :func:`duplicate_token_spans` and
    ``dup_pct`` is integer basis points (``dup_tokens * 10000 DIV
    n_tokens`` — integer DIV, the bucket-id rule, so the whole report
    stays float-free). A doc with ``dup_pct`` near 10000 is a copy of
    earlier corpus content; feeding this into a threshold gate is the
    document-level ExactSubstr DROP posture, vs
    :func:`strip_duplicate_spans`'s span-level excision.

    Scale shape: the spans operator's two shuffles, plus a broadcast-
    friendly aggregate of spans per doc joined LEFT onto the corpus's
    (id, n_tokens) projection — every document appears exactly once."""
    spans = duplicate_token_spans(
        df, k=k, text_col=text_col, id_col=id_col, boilerplate_cap=boilerplate_cap
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_tokens").alias("_dup"),
        F.count(F.lit(1)).alias("_nsp"),
    )
    toks = df.select(
        F.col(id_col),  # input-typed id (a bigint cast NULLs string ids)
        F.size(tokens(F.coalesce(F.col(text_col), F.lit("")))).cast("bigint").alias(
            "n_tokens"
        ),
    )
    return (
        toks.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("_dup"), F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.coalesce(F.col("_nsp"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.expr("coalesce(_dup, 0) * 10000 DIV n_tokens")
            .cast("bigint")
            .alias("dup_pct"),
        )
    )


def hot_shingles(
    df: DataFrame,
    k: int = 20,
    cap: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ``boilerplate_cap`` audit — :func:`hot_buckets`' twin for
    the exact-substring tier: every k-token shingle repeated more than
    ``cap`` times corpus-wide, WITH its text (the operators carry only
    md5 hashes, so this is where an operator sees WHAT the boilerplate
    is before deciding the cap). Output: (shingle, n_occurrences,
    n_docs), hottest first.

    Run it before turning ``boilerplate_cap`` on: the cap silently
    converts keep-first into delete-all for these shingles, and this
    report is the observable record of exactly which text that hits
    (the LSH hot-bucket doctrine: caps are opt-in and audited, never
    silent)."""
    # unlike the operators (which shuffle only md5 hashes), the audit
    # groups on the shingle TEXT — the report is the one place the
    # string itself must survive to be read, and it is cap-bounded;
    # the shingle DEFINITION is the shared helper, so the cap this
    # audit previews is exactly the cap the operators enforce
    sh, _ = _positional_shingles(df, k, text_col, id_col)
    return (
        sh.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") > cap)
        .select(
            F.col("sh").alias("shingle"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "shingle")
    )


def reown_substring_index(
    index: DataFrame,
    tombstones: DataFrame,
    corpus: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REBUILD-EQUIVALENT take-down for the substring index — the fix
    for the multi-witness gap that plain claim erasure leaves open:
    ``log_retire`` on the index deletes a retired owner's hash rows,
    but when another LIVE document still contains the same passage,
    deleting the hash silently disables future dedup of that passage
    (a later ingest re-admits it as unique even though a surviving
    corpus member holds it verbatim). This operator re-owns every
    orphaned hash from its keep-first occurrence among SURVIVING
    documents, so the result equals ``substring_index(corpus minus
    tombstones)`` exactly — the retire tier's invariant
    (indistinguishable from a rebuild without the retired ids),
    pinned in tests/test_retire.py.

    ``log_retire`` alone remains the CLAIM-ERASURE posture: correct
    when the retired document was the passage's only witness, cheap
    (no corpus access), and the right call when the erasure request
    covers the content itself. Use this operator when the request
    covers the DOCUMENT but the passage legitimately lives on in
    other corpus members.

    Returns the post-retire index frame (caller persists — the trio's
    contract). Honest cost: ONE re-shingle pass over the surviving
    corpus, semi-joined down to the orphaned hashes (O(retired docs'
    tokens) keys) — take-down-cadence work, not per-batch work; there
    is no way to find a hash's next witness without looking at text,
    which is exactly why the cheap path can't be rebuild-equivalent."""
    tomb = tombstones.select(F.col(tombstones.columns[0]).alias("doc_id")).distinct()
    keep = index.join(tomb.withColumnRenamed("doc_id", id_col), id_col, "left_anti")
    orphans = index.join(
        tomb.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    ).select("h")
    survivors = corpus.join(
        tomb.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )
    occ, _ = _shingle_occurrences(survivors, k, text_col, id_col)
    cand = occ.join(orphans, "h", "left_semi")
    part = Window.partitionBy("h").orderBy("doc_id", "pos")
    new_owners = (
        cand.withColumn("_rn", F.row_number().over(part))
        .filter(F.col("_rn") == 1)
        .select("h", F.col("doc_id").alias(id_col), "pos")
    )
    return keep.unionByName(new_owners)


def substring_index_fsck(
    spark,
    index_path: str,
    corpus: DataFrame | None = None,
    k: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Integrity check for a persisted :func:`substring_index` — the
    fourth index family's fsck, completing the posture the gate /
    compressed / BM25 families already have: every check returns a
    (check, violations) row, all-zero on a healthy index.

    Structural checks (index-only, cheap — one scan):

    - ``duplicate_hash`` — a hash with >1 owner row (a
      :func:`merge_substring_index` bypassed by a raw double-append;
      match results stay correct — the island merge coalesces — but
      the index pays the dead weight forever).
    - ``null_field`` — NULL hash/owner/pos (a malformed writer).
    - ``negative_pos`` — owner position < 0 (never produced by the
      builders; a corrupted rewrite).

    Witness check (opt-in — pass ``corpus`` AND ``k``; one
    orphan-style re-shingle of the OWNER documents only):

    - ``owner_without_witness`` — an index row whose owner document no
      longer contains that shingle at any position (the signature of a
      take-down that used plain ``log_retire`` claim-erasure semantics
      on the DOCUMENTS but forgot the index, or an index that predates
      a corpus rewrite; :func:`reown_substring_index` is the repair
      when the passage still has other witnesses).

    The witness check verifies hash membership per owner document, not
    the exact position — position drift without content change cannot
    affect match results (matching is hash-membership only), so
    checking it would flag harmless staleness."""
    def _count_row(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check"),
            F.count(F.lit(1)).cast("bigint").alias("violations"),
        )

    idx = spark.read.parquet(index_path)
    checks = [
        _count_row(
            "duplicate_hash",
            idx.groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1),
        ),
        _count_row(
            "null_field",
            idx.filter(
                F.col("h").isNull()
                | F.col(id_col).isNull()
                | F.col("pos").isNull()
            ),
        ),
        _count_row("negative_pos", idx.filter(F.col("pos") < 0)),
    ]
    if corpus is not None:
        if k is None:
            raise ValueError("substring_index_fsck: witness check needs k=")
        owner_ids = idx.select(F.col(id_col)).distinct()
        owners = corpus.join(owner_ids, id_col, "left_semi")
        occ, _ = _shingle_occurrences(owners, k, text_col, id_col)
        witnessed = occ.select(F.col("doc_id").alias(id_col), "h").distinct()
        checks.append(
            _count_row(
                "owner_without_witness",
                idx.join(witnessed, [id_col, "h"], "left_anti"),
            )
        )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def substring_novelty_report(
    new_docs: DataFrame,
    index: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document NOVELTY against a persisted
    :func:`substring_index` — the ingest-gating signal the day-2 loop
    wants before admitting a batch: for each new document, how much of
    it has the corpus seen verbatim before? Output: (id_col,
    n_shingles, n_known, novelty_pct) for EVERY batch document —
    ``n_known`` counts the doc's k-shingle occurrences whose hash the
    index holds, ``novelty_pct`` is integer basis points of UNSEEN
    shingles (``(n_shingles - n_known) * 10000 DIV n_shingles``;
    docs shorter than k have no shingles and report as fully novel,
    10000). Float-free end to end, like
    :func:`exact_substring_report`.

    A near-0 novelty_pct is a re-ingest or a mirror (route to the
    dedup drop path); a mid-range value is quotation/boilerplate
    (route to :func:`strip_duplicate_spans`); near-10000 is genuinely
    new content. Unlike :func:`match_substring_index` (which also
    ranks within-batch keep-first and merges spans), this is the
    cheap one-join read: batch occurrences left-joined to the index
    on ``h``, then one per-doc aggregate — no window anywhere.

    Scale shape: the index side is the same bucketed parquet probe as
    the match path; only (hash, id) pairs shuffle."""
    occ, base = _shingle_occurrences(new_docs, k, text_col, id_col)
    hit = occ.join(index.select("h").withColumn("_ix", F.lit(True)), "h", "left")
    per_doc = hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("_ix").isNotNull(), 1).otherwise(0)).alias("_known"),
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("_known"), F.lit(0)).cast("bigint").alias("n_known"),
            F.when(F.coalesce(F.col("_n"), F.lit(0)) == 0, F.lit(10000))
            .otherwise(
                F.expr("(_n - _known) * 10000 DIV _n")
            )
            .cast("bigint")
            .alias("novelty_pct"),
        )
    )
